"""Live OTLP/HTTP ingest (receiver/otlpreceiver/otlp.go:93-110,231-305):
real POSTs over a socket -> spool -> Spark row model, plus the protocol
edges (content types, gzip, auth, malformed payloads, backpressure)."""

from __future__ import annotations

import gzip
import http.client
import json

import pytest

from otel_arrow_collector_spark.model import (generate_logs,
                                              generate_metrics,
                                              generate_traces)
from otel_arrow_collector_spark.sources.http_receiver import (
    OtlpHttpReceiver, read_spool)
from otel_arrow_collector_spark.sources.otlp_pb import encode_request
from tests.test_codecs import _canon


def _post(rcv, path, body, ctype="application/json", headers=None):
    conn = http.client.HTTPConnection(rcv.host, rcv._port, timeout=10)
    try:
        hdrs = {"Content-Type": ctype, **(headers or {})}
        conn.request("POST", path, body, hdrs)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _json_body(df, signal):
    """One OTLP/JSON request doc for a row-model DataFrame (reuse the
    codec's writer surface: one line == one request)."""
    from otel_arrow_collector_spark.sources.otlp_json import _WRITERS
    lines = [r.json for r in _WRITERS[signal](df).collect()]
    # writers emit one envelope-grouped doc per partition/group; merge into
    # one request doc like a client batching spans would
    merged: dict = {}
    for ln in lines:
        doc = json.loads(ln)
        for k, v in doc.items():
            merged.setdefault(k, []).extend(v)
    return json.dumps(merged).encode()


@pytest.fixture()
def rcv(tmp_path):
    r = OtlpHttpReceiver(str(tmp_path / "spool"))
    r.start()
    yield r
    r.stop()


def test_http_json_post_roundtrip(spark, rcv):
    td = generate_traces(spark, 4)
    status, body = _post(rcv, "/v1/traces", _json_body(td, "traces"))
    assert status == 200 and body == b"{}"
    back = rcv.read_spool(spark, "traces")
    assert _canon(back, []) == _canon(td, [])
    assert rcv.counters["accepted_traces_json"] == 1


def test_http_pb_post_roundtrip(spark, rcv):
    ld = generate_logs(spark, 4)
    rows = [r.asDict(recursive=True) for r in ld.collect()]
    status, body = _post(rcv, "/v1/logs", encode_request(rows, "logs"),
                         ctype="application/x-protobuf")
    assert status == 200 and body == b""
    back = rcv.read_spool(spark, "logs")
    assert _canon(back, []) == _canon(ld, [])


def test_http_mixed_wire_formats_union(spark, rcv):
    """JSON and pb posts of the same signal land in ONE DataFrame."""
    md = generate_metrics(spark, 2)
    _post(rcv, "/v1/metrics", _json_body(md, "metrics"))
    rows = [r.asDict(recursive=True) for r in md.collect()]
    _post(rcv, "/v1/metrics", encode_request(rows, "metrics"),
          ctype="application/x-protobuf")
    back = rcv.read_spool(spark, "metrics")
    assert back.count() == 2 * md.count()


def test_http_gzip_body(spark, rcv):
    td = generate_traces(spark, 2)
    status, _ = _post(rcv, "/v1/traces", gzip.compress(_json_body(td, "traces")),
                      headers={"Content-Encoding": "gzip"})
    assert status == 200
    assert rcv.read_spool(spark, "traces").count() == td.count()


def test_http_protocol_edges(spark, rcv):
    # unknown path -> 404
    assert _post(rcv, "/v1/profiles", b"{}")[0] == 404
    # unsupported content type -> 415
    assert _post(rcv, "/v1/traces", b"x", ctype="text/csv")[0] == 415
    # malformed JSON -> 400, nothing spooled
    assert _post(rcv, "/v1/traces", b"{not json")[0] == 400
    # malformed pb -> 400 (decode-before-ack)
    assert _post(rcv, "/v1/traces", b"\xff\xff\xff\xff",
                 ctype="application/x-protobuf")[0] == 400
    assert rcv.read_spool(spark, "traces").count() == 0


def test_http_bearer_auth(spark, tmp_path):
    rcv = OtlpHttpReceiver(str(tmp_path / "auth_spool"), token="s3cr3t")
    rcv.start()
    try:
        body = b'{"resourceSpans":[]}'
        assert _post(rcv, "/v1/traces", body)[0] == 401
        assert _post(rcv, "/v1/traces", body,
                     headers={"Authorization": "Bearer wrong"})[0] == 401
        assert _post(rcv, "/v1/traces", body,
                     headers={"Authorization": "Bearer s3cr3t"})[0] == 200
    finally:
        rcv.stop()


def test_http_backpressure_503(spark, tmp_path):
    """Spool occupancy cap -> 503 + Retry-After (refusal, not drop)."""
    rcv = OtlpHttpReceiver(str(tmp_path / "bp_spool"), max_pending_files=1)
    rcv.start()
    try:
        body = b'{"resourceSpans":[]}'
        assert _post(rcv, "/v1/traces", body)[0] == 200
        status, _ = _post(rcv, "/v1/traces", body)
        assert status == 503
        assert rcv.counters["refused_backpressure_traces"] == 1
    finally:
        rcv.stop()


def test_http_spool_pipeline_receiver(spark, rcv, tmp_path):
    """kind: http_spool plugs the spool into the pipeline compiler."""
    from otel_arrow_collector_spark.plans.pipeline import PipelineGraph
    td = generate_traces(spark, 6)
    _post(rcv, "/v1/traces", _json_body(td, "traces"))
    sink_dir = str(tmp_path / "sunk")
    g = PipelineGraph({
        "receivers": {"otlp_http": {"kind": "http_spool",
                                    "path": rcv.spool_dir,
                                    "signal": "traces"}},
        "processors": {"errs": {"kind": "filter",
                                "where": "status_code = 2"}},
        "exporters": {"mem": {"kind": "memory"}},
        "pipelines": {"traces": {"receivers": ["otlp_http"],
                                 "processors": ["errs"],
                                 "exporters": ["mem"]}},
    })
    rows = g.compile(spark).run()["traces/mem"]
    assert len(rows) == td.filter("status_code = 2").count() > 0


def test_http_concurrent_posts_all_spooled(spark, rcv):
    """ThreadingHTTPServer + atomic rename: parallel posts never collide
    or lose a request."""
    import concurrent.futures as cf
    td = generate_traces(spark, 2)
    body = _json_body(td, "traces")
    with cf.ThreadPoolExecutor(max_workers=8) as ex:
        statuses = list(ex.map(
            lambda _: _post(rcv, "/v1/traces", body)[0], range(16)))
    assert statuses == [200] * 16
    assert rcv.read_spool(spark, "traces").count() == 16 * td.count()


# ---------------------------------------------------------------------------
# push side: OTLP/HTTP exporter (exporter/otlphttpexporter/otlp.go) against
# the live receiver — the full loop engine -> POST -> spool -> engine
# ---------------------------------------------------------------------------

def test_http_exporter_roundtrip_via_receiver(spark, rcv):
    """Executor-side POSTs land in the receiver and decode back to the
    identical DataFrame (the reference's otlphttp -> otlpreceiver loop)."""
    from otel_arrow_collector_spark.exporters.http_exporter import \
        export_http_now
    td = generate_traces(spark, 8).repartition(3)
    stats = export_http_now(td, rcv.endpoint, "traces",
                            max_rows_per_request=3)
    assert stats["rows_sent"] == 8
    assert stats["n_requests"] >= 3          # 8 rows / <=3 per request
    assert stats["n_attempts"] == stats["n_requests"]   # no retries needed
    back = rcv.read_spool(spark, "traces")
    assert _canon(back, []) == _canon(td, [])


def test_http_exporter_auth_and_gzip(spark, tmp_path):
    from otel_arrow_collector_spark.exporters.http_exporter import \
        export_http_now
    rcv = OtlpHttpReceiver(str(tmp_path / "exp_auth"), token="tk")
    rcv.start()
    try:
        ld = generate_logs(spark, 4)
        stats = export_http_now(ld, rcv.endpoint, "logs", token="tk",
                                compress=True)
        assert stats["rows_sent"] == 4
        assert rcv.read_spool(spark, "logs").count() == 4
    finally:
        rcv.stop()


def test_http_exporter_permanent_error_on_unauth(spark, tmp_path):
    """401 is non-retryable: exactly one attempt, loud failure."""
    import pyspark.errors
    from otel_arrow_collector_spark.exporters.http_exporter import export_http
    rcv = OtlpHttpReceiver(str(tmp_path / "exp_noauth"), token="tk")
    rcv.start()
    try:
        td = generate_traces(spark, 2).coalesce(1)
        with pytest.raises(Exception, match="401|non-retryable"):
            export_http(td, rcv.endpoint, "traces").collect()
        assert rcv.counters.get("refused_unauth_traces", 0) >= 1
        assert rcv.read_spool(spark, "traces").count() == 0
    finally:
        rcv.stop()


def test_http_exporter_retries_transient_503(spark, tmp_path):
    """A 503 with Retry-After is honored and the request retried to
    success (throttle override, otlp.go:267-303)."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from otel_arrow_collector_spark.exporters.http_exporter import \
        export_http_now
    from otel_arrow_collector_spark.exporters.retry import RetryConfig

    hits = []

    class Flaky(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            hits.append(self.path)
            if len(hits) == 1:                     # first request throttled
                self.send_response(503)
                self.send_header("Retry-After", "0")
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Length", "0")
            self.end_headers()

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Flaky)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        td = generate_traces(spark, 2).coalesce(1)
        stats = export_http_now(
            td, f"http://127.0.0.1:{srv.server_address[1]}", "traces",
            retry_config=RetryConfig(initial_interval_s=0.01,
                                     max_elapsed_s=10.0))
        assert stats["n_requests"] == 1
        assert stats["n_attempts"] == 2            # throttled then sent
        assert len(hits) == 2
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_status_endpoint(spark, rcv):
    """GET /status: zpages-style counters + spool occupancy."""
    import json as _json
    td = generate_traces(spark, 2)
    _post(rcv, "/v1/traces", _json_body(td, "traces"))
    conn = http.client.HTTPConnection(rcv.host, rcv._port, timeout=10)
    try:
        conn.request("GET", "/status")
        resp = conn.getresponse()
        assert resp.status == 200
        doc = _json.loads(resp.read())
    finally:
        conn.close()
    assert doc["counters"]["accepted_traces_json"] == 1
    assert doc["pending_files"]["traces"] == 1
    assert _post(rcv, "/v1/traces", b"{}")[0] == 200  # POST still works


def test_http_pipeline_exporter_kind(spark, rcv):
    """kind: http exporter POSTs a pipeline's output to a live endpoint."""
    from otel_arrow_collector_spark.plans.pipeline import PipelineGraph
    td = generate_traces(spark, 6)
    g = PipelineGraph({
        "receivers": {"mem": {"kind": "memory"}},
        "processors": {"errs": {"kind": "filter",
                                "where": "status_code = 2"}},
        "exporters": {"push": {"kind": "http", "endpoint": rcv.endpoint,
                               "signal": "traces",
                               "max_rows_per_request": 2}},
        "pipelines": {"traces": {"receivers": ["mem"],
                                 "processors": ["errs"],
                                 "exporters": ["push"]}},
    })
    stats = g.compile(spark, sources={"mem": td}).run()["traces/push"]
    assert stats["rows_sent"] == 3 and stats["n_requests"] >= 2
    assert rcv.read_spool(spark, "traces").count() == 3


@pytest.mark.slow
def test_stream_spool_continuous_ingest(spark, rcv, tmp_path):
    """Live POSTs land in the spool; a streaming query (file source +
    checkpoint) ingests them incrementally — only NEW files on resume."""
    from otel_arrow_collector_spark.sources.spool import stream_spool
    td = generate_traces(spark, 4)
    _post(rcv, "/v1/traces", _json_body(td, "traces"))
    out = str(tmp_path / "spool_out")

    def drain():
        q = (stream_spool(spark, rcv.spool_dir, "traces")
             .selectExpr("trace_id", "span_id", "name", "status_code")
             .writeStream.format("parquet").option("path", out)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt_spool"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.parquet(out)

    assert drain().count() == 4
    _post(rcv, "/v1/traces", _json_body(generate_traces(spark, 2), "traces"))
    # same checkpoint: only the NEW spool file is replayed (4 + 2, no dup)
    assert drain().count() == 6


def test_http_body_size_limit(spark, tmp_path):
    """Oversized requests refuse with 413 before the body is read; a
    gzip bomb is caught after decompression (confighttp
    max_request_body_size parity)."""
    import gzip as _gzip
    rcv = OtlpHttpReceiver(str(tmp_path / "sz_spool"), max_body_bytes=1000)
    rcv.start()
    try:
        assert _post(rcv, "/v1/traces", b"x" * 2000)[0] == 413
        bomb = _gzip.compress(b'{"pad": "' + b"a" * 5000 + b'"}')
        assert len(bomb) < 1000
        status, _ = _post(rcv, "/v1/traces", bomb,
                          headers={"Content-Encoding": "gzip"})
        assert status == 400                 # caught post-inflate
        assert _post(rcv, "/v1/traces", b'{"resourceSpans":[]}')[0] == 200
        assert rcv.counters["refused_too_large_traces"] == 1
    finally:
        rcv.stop()


def test_http_all_reference_content_encodings(spark, rcv):
    """The reference decompressor's decoder map (confighttp/
    compression.go:83-123): gzip, zstd, zlib, AND deflate (=zlib) all
    accepted with the bomb cap; an unknown coding is 400 'unsupported',
    never a silent passthrough."""
    import pyarrow as pa
    import zlib as _z
    td = generate_traces(spark, 2)
    body = _json_body(td, "traces")
    for enc, blob in (
            ("zstd", bytes(pa.Codec("zstd").compress(body))),
            ("zlib", _z.compress(body)),
            ("deflate", _z.compress(body))):
        status, _ = _post(rcv, "/v1/traces", blob,
                          headers={"Content-Encoding": enc})
        assert status == 200, enc
    assert rcv.read_spool(spark, "traces").count() == 3 * td.count()
    status, resp = _post(rcv, "/v1/traces", body,
                         headers={"Content-Encoding": "br"})
    assert status == 400 and b"unsupported" in resp


def test_http_refuses_snappy_that_grpc_accepts(rcv):
    """One capped decoder map serves both receivers, each admitting its
    own codings: snappy is gRPC-only, as in the reference's servers."""
    from otel_arrow_collector_spark.sources.compression import (
        GRPC_CODINGS, HTTP_CODINGS)
    from otel_arrow_collector_spark.sources.http_receiver import \
        _decompress_body
    from otel_arrow_collector_spark.sources.snappy import frame_compress
    blob = frame_compress(b"payload")
    assert _decompress_body("snappy", blob, 1 << 10, GRPC_CODINGS) == \
        b"payload"
    with pytest.raises(ValueError, match="unsupported"):
        _decompress_body("snappy", blob, 1 << 10, HTTP_CODINGS)
    status, resp = _post(rcv, "/v1/traces", blob, "application/x-protobuf",
                         headers={"Content-Encoding": "snappy"})
    assert status == 400 and b"unsupported" in resp


def test_http_zstd_bomb_and_sizeless_frames(spark, rcv):
    """The zstd cap is enforced from the FRAME HEADER (RFC 8878
    Frame_Content_Size) before any allocation when the size is present;
    sizeless streaming-writer frames — what the reference's
    zstd.NewWriter clients actually send (confighttp/compressor.go:31)
    — are ACCEPTED via bounded incremental decode, with the same cap."""
    import pyarrow as pa
    huge = b" " * (70 * 1024 * 1024)            # > default 64 MiB cap
    blob = bytes(pa.Codec("zstd").compress(huge))
    status, resp = _post(rcv, "/v1/traces", blob,
                         headers={"Content-Encoding": "zstd"})
    assert status == 400 and b"exceeds limit" in resp

    # streaming-writer frame (no Frame_Content_Size): must decode
    td = generate_traces(spark, 2)
    body = _json_body(td, "traces")
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as s:
        s.write(body)
    sizeless = sink.getvalue().to_pybytes()
    assert sizeless[4] >> 6 == 0 and not (sizeless[4] >> 5) & 1
    status, _ = _post(rcv, "/v1/traces", sizeless,
                      headers={"Content-Encoding": "zstd"})
    assert status == 200
    assert rcv.read_spool(spark, "traces").count() >= td.count()

    # a sizeless BOMB still dies at the cap (chunked, never allocated)
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as s:
        s.write(huge)
    bomb = sink.getvalue().to_pybytes()
    assert bomb[4] >> 6 == 0
    status, resp = _post(rcv, "/v1/traces", bomb,
                         headers={"Content-Encoding": "zstd"})
    assert status == 400 and b"exceeds limit" in resp


def test_http_exporter_named_compressions_land(spark, tmp_path):
    """configcompression codings on the CLIENT side: zstd and zlib
    bodies survive the full exporter->receiver loop (the receiver's
    decoder map matches the exporter's encoder map)."""
    from otel_arrow_collector_spark.exporters.http_exporter import \
        export_http_now
    rcv = OtlpHttpReceiver(str(tmp_path / "exp_codings"))
    rcv.start()
    try:
        ld = generate_logs(spark, 4)
        for coding in ("zstd", "zlib"):
            stats = export_http_now(ld, rcv.endpoint, "logs",
                                    compress=coding)
            assert stats["rows_sent"] == 4, coding
        assert rcv.read_spool(spark, "logs").count() == 8
    finally:
        rcv.stop()


def test_http_pipeline_exporter_named_compression(spark, rcv):
    """`compress: zstd` in a pipeline config must reach the wire as
    zstd — a bool() coercion would silently degrade every named coding
    to gzip (caught by review; pinned here end-to-end)."""
    from otel_arrow_collector_spark.plans.pipeline import (ConfigError,
                                                           PipelineGraph)
    td = generate_traces(spark, 4)
    g = PipelineGraph({
        "receivers": {"mem": {"kind": "memory"}},
        "exporters": {"push": {"kind": "http", "endpoint": rcv.endpoint,
                               "signal": "traces", "compress": "zstd"}},
        "pipelines": {"traces": {"receivers": ["mem"],
                                 "exporters": ["push"]}},
    })
    stats = g.compile(spark, sources={"mem": td}).run()["traces/push"]
    assert stats["rows_sent"] == 4
    # a non-bool non-string compress value is a ConfigError, raised
    # when the graph is built
    import pytest as _pt
    with _pt.raises(ConfigError, match="compress"):
        PipelineGraph({
            "receivers": {"mem": {"kind": "memory"}},
            "exporters": {"push": {"kind": "http", "endpoint": rcv.endpoint,
                                   "signal": "traces", "compress": 3}},
            "pipelines": {"traces": {"receivers": ["mem"],
                                     "exporters": ["push"]}},
        }).compile(spark, sources={"mem": td}).run()
