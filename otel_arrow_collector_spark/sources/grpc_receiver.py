"""Live OTLP/gRPC receiver — stdlib-only HTTP/2 + gRPC framing.

The reference registers three unary Export services on a grpc-go server
(receiver/otlpreceiver/otlp.go:93-110; trace/logs/metrics service paths
from the generated service descriptors).  grpcio is not available here,
so this server speaks the gRPC wire protocol directly over sockets:

- frames are read through ``h2.ConnectionReader``, which answers the
  connection-level frames and returns complete header blocks and DATA
  per stream; this module keeps only the gRPC logic on top of it
- gRPC length-prefixed messages, de-framed by ``h2.pop_grpc_message``;
  ``grpc-encoding`` gzip/zstd/snappy decoded by the HTTP receiver's
  capped decoder map, restricted to ``compression.GRPC_CODINGS``
- per-message decode-before-ack with the dependency-free pb codec
  (``sources/otlp_pb.py``), then a write through ``sources/spool.py``,
  the spool the HTTP receiver also writes — so ``spool.read_spool``
  consumes both receivers' output interchangeably, and receivers that
  share one spool directory never replace each other's files.
- every socket comes from the ``h2`` helpers, and each accepted one has
  ``TCP_NODELAY`` set, matching Go's ``net`` default under grpc-go: an
  ack is small, and Nagle's algorithm holds a small write while an
  earlier one is unacknowledged, so each ack would wait for the
  client's delayed ACK, about 40 ms.

Status mapping mirrors the reference (receiver/otlpreceiver/otlp.go +
internal/errors): bad wire bytes -> INVALID_ARGUMENT(3), unknown method
-> UNIMPLEMENTED(12), auth failure -> UNAUTHENTICATED(16), memory-limiter
refusal -> RESOURCE_EXHAUSTED(8) with ``grpc-retry-pushback-ms`` (the
throttle hint the exporter honors), success -> OK(0) with an empty
ExportXServiceResponse message.
"""

from __future__ import annotations

import socket
import struct
import threading

from . import h2, spool
from .compression import GRPC_CODINGS
from .hpack import HpackEncoder
from .http_receiver import _decompress_body

#: gRPC method path -> signal (the generated service full names)
ROUTES = {
    "/opentelemetry.proto.collector.trace.v1.TraceService/Export": "traces",
    "/opentelemetry.proto.collector.logs.v1.LogsService/Export": "logs",
    "/opentelemetry.proto.collector.metrics.v1.MetricsService/Export":
        "metrics",
}

#: OTel-Arrow bidi stream services (arrow.go:251-263; the mixed-signal
#: ArrowStream plus the per-signal variants).
_ARROW_V1 = "/opentelemetry.proto.experimental.arrow.v1"
ARROW_ROUTES = {
    f"{_ARROW_V1}.ArrowStreamService/ArrowStream",
    f"{_ARROW_V1}.ArrowTracesService/ArrowTraces",
    f"{_ARROW_V1}.ArrowLogsService/ArrowLogs",
    f"{_ARROW_V1}.ArrowMetricsService/ArrowMetrics",
}

# gRPC status codes used here
OK = 0
INVALID_ARGUMENT = 3
RESOURCE_EXHAUSTED = 8
UNIMPLEMENTED = 12
INTERNAL = 13
UNAUTHENTICATED = 16


class _Stream:
    __slots__ = ("headers", "data", "arrow", "resp_started", "closed")

    def __init__(self):
        self.headers: dict[str, str] = {}
        self.data = bytearray()
        self.arrow = None              # ArrowStreamState once recognized
        self.resp_started = False
        self.closed = False


class OtlpGrpcReceiver:
    """gRPC Export server spooling decoded requests for Spark ingest.

    Usage mirrors :class:`~.http_receiver.OtlpHttpReceiver`::

        rcv = OtlpGrpcReceiver(spool_dir)
        rcv.start()
        ... clients call TraceService/Export ...
        df = rcv.read_spool(spark, "traces")
        rcv.stop()
    """

    def __init__(self, spool_dir: str, *, host: str = "127.0.0.1",
                 port: int = 0, token: str | None = None,
                 authenticator=None,
                 max_pending_files: int = 100_000,
                 max_msg_bytes: int = 64 * 1024 * 1024,
                 max_stream_bytes: int = 64 * 1024 * 1024,
                 retry_pushback_ms: int = 1000,
                 record_client_info: bool = False):
        from .auth import resolve_authenticator
        self.spool_dir = spool_dir
        self.host, self._port = host, port
        self.token = token
        # configauth surface (extension/auth/server.go:18-29): a named/
        # callable/instance authenticator; token= stays as bearer sugar
        self.authenticator = resolve_authenticator(authenticator, token)
        self.max_pending_files = max_pending_files
        self.max_msg_bytes = max_msg_bytes
        # Pending-byte budget per Arrow stream (its own knob — NOT the
        # per-message cap; ADVICE r5): exceeding it acks UNAVAILABLE so
        # a SendAndWait client retries on a fresh stream.
        self.max_stream_bytes = max_stream_bytes
        self.retry_pushback_ms = retry_pushback_ms
        # client.Info surface (reference client/client.go:86-151): when
        # on, the pb spool is laid out client_addr=<x>/client_principal=
        # <y>/req-*.pb so ingest exposes peer address + auth principal as
        # first-class metadata columns (read_spool(client_info=True)).
        self.record_client_info = record_client_info
        self.counters: dict[str, int] = {}
        self._writer = spool.Writer(spool_dir, ("pb",))
        self._lock = threading.Lock()
        self._srv_sock: socket.socket | None = None
        self._accept_thread: threading.Thread | None = None
        self._closing = False

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> tuple[str, int]:
        self._closing = False
        srv = h2.listen(self.host, self._port)
        srv.settimeout(0.25)
        self._srv_sock = srv
        self._port = srv.getsockname()[1]
        self._accept_thread = threading.Thread(
            target=self._accept_loop, name="otlp-grpc", daemon=True)
        self._accept_thread.start()
        return self.host, self._port

    def stop(self) -> None:
        self._closing = True
        if self._accept_thread is not None:
            self._accept_thread.join(timeout=5)
            self._accept_thread = None
        if self._srv_sock is not None:
            self._srv_sock.close()
            self._srv_sock = None

    @property
    def endpoint(self) -> str:
        return f"grpc://{self.host}:{self._port}"

    # -- internals ---------------------------------------------------------

    def _count(self, key: str) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + 1

    def _accept_loop(self) -> None:
        while not self._closing:
            try:
                conn = h2.accept(self._srv_sock)
            except socket.timeout:
                continue
            except OSError:
                return
            t = threading.Thread(target=self._serve_conn, args=(conn,),
                                 daemon=True)
            t.start()

    def _serve_conn(self, sock: socket.socket) -> None:
        try:
            peer = "%s:%s" % sock.getpeername()[:2]
        except OSError:
            peer = ""
        try:
            sock.settimeout(30)
            preface = h2.recv_exact(sock, len(h2.PREFACE))
            if preface != h2.PREFACE:
                raise h2.H2Error("bad connection preface")
            # our SETTINGS: large initial window so unary bodies up to the
            # message cap never stall on flow control
            sock.sendall(h2.pack_frame(
                h2.SETTINGS, 0, 0, h2.settings_payload(
                    {h2.SETTINGS_INITIAL_WINDOW_SIZE: 1 << 24,
                     h2.SETTINGS_MAX_FRAME_SIZE: h2.DEFAULT_MAX_FRAME}))
                + h2.pack_frame(
                    h2.WINDOW_UPDATE, 0, 0, struct.pack(">I", 1 << 24)))
            reader, enc = h2.ConnectionReader(sock), HpackEncoder()
            streams: dict[int, _Stream] = {}
            while True:
                kind, sid, val, end = reader.next_event()
                if kind == h2.GOAWAY:
                    return
                if kind == h2.RST_STREAM:
                    streams.pop(sid, None)
                    continue
                st = streams.setdefault(sid, _Stream())
                if kind == h2.HEADERS:
                    st.headers = val
                arrow = st.headers.get(":path", "") in ARROW_ROUTES
                if kind == h2.DATA:
                    st.data += val
                    if len(st.data) > self.max_msg_bytes + 5:
                        self._count("refused_too_large")
                        self._trailers_only(sock, enc, sid,
                                            RESOURCE_EXHAUSTED,
                                            "message too large")
                        streams.pop(sid, None)
                        continue
                    if val:       # replenish both flow-control windows
                        inc = struct.pack(">I", len(val))
                        sock.sendall(
                            h2.pack_frame(h2.WINDOW_UPDATE, 0, 0, inc)
                            + h2.pack_frame(h2.WINDOW_UPDATE, 0, sid, inc))
                    if arrow:
                        self._arrow_pump(sock, enc, sid, st)
                if end:
                    if arrow:
                        self._arrow_finish(sock, enc, sid, st)
                    else:
                        self._respond(sock, enc, sid, st, peer)
                    streams.pop(sid, None)
        except h2.H2Closed:
            pass                       # client hung up between requests
        except (h2.H2Error, OSError):
            self._count("conn_error")
        finally:
            sock.close()

    # -- request handling --------------------------------------------------

    def _respond(self, sock, enc, sid, st: _Stream,
                 peer: str = "") -> None:
        status, msg = self._handle(st, peer)
        hdr = enc.encode([(":status", "200"),
                          ("content-type", "application/grpc")])
        frames = [h2.pack_frame(h2.HEADERS, h2.FLAG_END_HEADERS, sid, hdr)]
        if status == OK:
            # empty ExportXServiceResponse: zero-length pb message
            frames += h2.chunk_data_frames(sid, h2.grpc_frame(b""), False)
        trailers = [("grpc-status", str(status))]
        if msg:
            trailers.append(("grpc-message", msg))
        if status == RESOURCE_EXHAUSTED:
            trailers.append(("grpc-retry-pushback-ms",
                             str(self.retry_pushback_ms)))
        frames.append(h2.pack_frame(
            h2.HEADERS, h2.FLAG_END_HEADERS | h2.FLAG_END_STREAM, sid,
            enc.encode(trailers)))
        sock.sendall(b"".join(frames))

    def _trailers_only(self, sock, enc, sid, status: int, msg: str) -> None:
        block = enc.encode([(":status", "200"),
                            ("content-type", "application/grpc"),
                            ("grpc-status", str(status)),
                            ("grpc-message", msg)])
        sock.sendall(h2.pack_frame(
            h2.HEADERS, h2.FLAG_END_HEADERS | h2.FLAG_END_STREAM, sid,
            block))

    def _handle(self, st: _Stream, peer: str = "") -> tuple[int, str]:
        path = st.headers.get(":path", "")
        signal = ROUTES.get(path)
        if signal is None:
            self._count("refused_unimplemented")
            return UNIMPLEMENTED, f"unknown method {path}"
        principal = "anonymous"
        if self.authenticator is not None:
            try:
                principal = self.authenticator.authenticate(
                    dict(st.headers))
            except Exception:
                # non-retryable refusal (auth/server.go:21-22)
                self._count(f"refused_unauth_{signal}")
                return UNAUTHENTICATED, "unauthenticated"
        ctype = st.headers.get("content-type", "")
        if not ctype.startswith("application/grpc"):
            self._count(f"refused_content_type_{signal}")
            return INTERNAL, f"bad content-type {ctype}"
        if self._writer.pending(signal) >= self.max_pending_files:
            self._count(f"refused_backpressure_{signal}")
            return RESOURCE_EXHAUSTED, "spool full"
        try:
            msgs = h2.parse_grpc_frames(st.data)
        except h2.H2Error as e:
            self._count(f"refused_bad_frame_{signal}")
            return INVALID_ARGUMENT, str(e)
        if len(msgs) != 1:
            self._count(f"refused_bad_frame_{signal}")
            return INVALID_ARGUMENT, f"unary call with {len(msgs)} messages"
        compressed, body = msgs[0]
        try:
            if compressed:
                # configgrpc's compressor registry (configgrpc.go:384-392);
                # a compressed message needs a grpc-encoding to decode it
                body = _decompress_body(
                    st.headers.get("grpc-encoding", "identity"), body,
                    self.max_msg_bytes, GRPC_CODINGS)
            from .otlp_pb import decode_request
            decode_request(body, signal)        # decode-before-ack
        except Exception as e:
            self._count(f"refused_bad_payload_{signal}")
            return INVALID_ARGUMENT, str(e)[:256]
        self._writer.write_request(
            body, signal, "pb",
            (peer, principal) if self.record_client_info else None)
        self._count(f"accepted_{signal}")
        return OK, ""

    # -- OTel-Arrow bidi stream (arrow.go:251-349) -------------------------

    def _arrow_pump(self, sock, enc, sid, st: _Stream) -> None:
        """Drain complete gRPC messages from the stream buffer; for each
        BatchArrowRecords decode its payload IPC fragments (stateful per
        schema id), spool the new record batches, and ack one
        BatchStatus on the reverse direction (SendAndWait-compatible)."""
        from . import arrow_service as asvc
        if st.closed:
            return
        if st.arrow is None:
            if self.authenticator is not None:
                try:
                    self.authenticator.authenticate(dict(st.headers))
                except Exception:
                    self._count("refused_unauth_arrow")
                    self._trailers_only(sock, enc, sid,
                                        UNAUTHENTICATED, "unauthenticated")
                    st.closed = True
                    return
            st.arrow = asvc.ArrowStreamState(self.max_stream_bytes)
        while True:
            popped = h2.pop_grpc_message(st.data, self.max_msg_bytes)
            if popped is None:
                return
            compressed, msg = popped
            if compressed:     # Arrow payloads carry their own compression
                raise h2.H2Error("compressed arrow stream message")
            code, text, batch_id = OK, "", 0
            try:
                req = asvc.decode_batch(msg)
                batch_id = req["batch_id"]
                st.arrow.headers(req["headers"])    # per-batch metadata
                # Backpressure gate BEFORE any consume/spool (ADVICE r5):
                # an UNAVAILABLE ack must leave the stream state and the
                # spool untouched so the client's retry of the same
                # BatchArrowRecords is neither lossy nor duplicating.
                over = next((asvc.PAYLOAD_SIGNAL[pt]
                             for _sid, pt, _rec in req["payloads"]
                             if asvc.PAYLOAD_SIGNAL.get(pt) is not None
                             and self._writer.arrow_pending(pt)
                             >= self.max_pending_files), None)
                if over is not None:
                    self._count(f"refused_backpressure_{over}")
                    code, text = asvc.STATUS_UNAVAILABLE, "spool full"
                else:
                    for schema_id, ptype, record in req["payloads"]:
                        batches = st.arrow.consume(schema_id, record)
                        signal = asvc.PAYLOAD_SIGNAL.get(ptype)
                        for b in batches:
                            self._writer.write_arrow(b, ptype)
                            if signal is not None:
                                self._count(f"accepted_arrow_{signal}")
            except asvc.StreamBudgetExceeded as e:
                # Resource, not data: retryable on a fresh stream.
                self._count("refused_stream_budget")
                code, text = asvc.STATUS_UNAVAILABLE, str(e)[:256]
            except Exception as e:     # bad pb/IPC bytes: data error
                self._count("refused_bad_arrow")
                code, text = asvc.STATUS_INVALID_ARGUMENT, str(e)[:256]
            out = []
            if not st.resp_started:
                hdr = enc.encode([(":status", "200"),
                                  ("content-type", "application/grpc")])
                out.append(h2.pack_frame(
                    h2.HEADERS, h2.FLAG_END_HEADERS, sid, hdr))
                st.resp_started = True
            status = asvc.encode_status(batch_id, code, text)
            out += h2.chunk_data_frames(sid, h2.grpc_frame(status), False)
            sock.sendall(b"".join(out))

    def _arrow_finish(self, sock, enc, sid, st: _Stream) -> None:
        """Client half-close: end the response with OK trailers."""
        if st.closed:
            return
        if not st.resp_started:
            self._trailers_only(sock, enc, sid, OK, "")
            return
        sock.sendall(h2.pack_frame(
            h2.HEADERS, h2.FLAG_END_HEADERS | h2.FLAG_END_STREAM, sid,
            enc.encode([("grpc-status", "0")])))

    # -- Spark ingest ------------------------------------------------------

    def read_spool(self, spark, signal: str, client_info: bool = False):
        return spool.read_spool(spark, self.spool_dir, signal,
                                client_info=client_info)

    def read_arrow_spool(self, spark, signal: str):
        return spool.read_arrow_spool(spark, self.spool_dir, signal)

    def stream_arrow_spool(self, spark, signal: str, schema=None):
        return spool.stream_arrow_spool(spark, self.spool_dir, signal,
                                        schema)

    def read_arrow_payloads(self, spark) -> dict[int, object]:
        return spool.read_arrow_payloads(spark, self.spool_dir)
