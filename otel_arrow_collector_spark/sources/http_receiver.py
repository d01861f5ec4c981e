"""Live OTLP/HTTP ingest — the reference's HTTP front door
(receiver/otlpreceiver/otlp.go:93-110 startHTTPServer, :231-305 the
/v1/{traces,logs,metrics} handlers), re-expressed as a stdlib
``http.server`` endpoint that SPOOLS requests to files for Spark.

Design (the Spark-native split): the HTTP server is an edge concern —
tiny, stateless, horizontally scalable — so it does NOT hold telemetry
in memory for Spark to poll.  Each accepted request body is written
atomically into a spool directory; the engine ingests the spool with the
existing file-level codecs (``read_otlp_json`` / ``read_otlp_pb``) in
batch, or as a Structured Streaming file source for continuous ingest
(new-file discovery is Spark's native streaming contract).  At 100 TB a
fleet of these receivers writes to shared object storage and ONE Spark
job consumes every spool — receiver count and executor count scale
independently.

Faithful HTTP semantics (otlp.go + config.go):
- content types: ``application/json`` and ``application/x-protobuf``
  (415 otherwise, like the reference's fallback handler)
- ``Content-Encoding``: gzip/zstd/zlib/deflate accepted (capped), others 400
- success: 200 with an empty partial-success body in the request's
  content type
- malformed payload: 400 (the reference decodes before acking)
- auth: optional bearer token -> 401/403 (the configauth server path,
  receiver/otlpreceiver/internal/arrow/arrow.go:87-216 analogue)
- backpressure: spool occupancy cap -> 503 + Retry-After (the
  memory-limiter refusal contract: reject, never drop accepted data)
- body framing: Content-Length only (the reference's net/http also
  reads chunked bodies); none, chunked included, -> 411, a malformed or
  negative one -> 400, both before the body is read
- connections: HTTP/1.1 keep-alive with ``TCP_NODELAY``, as Go's
  net/http serves them; a refusal answered before the body is read
  closes the connection; ``stop()`` ends every connection, as
  ``Server.Shutdown`` does

Durability: a request is acked ONLY after ``sources/spool.py`` has
persisted it (fsync + atomic rename under a name no other receiver on
the spool uses) — the ack-after-persist rule the reference's persistent
queue follows (persistent_storage.go:278-345).
"""

from __future__ import annotations

import json
import socket
import sys
import threading
import time
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from . import spool
from .compression import HTTP_CODINGS
from .snappy import frame_decompress
from .spool import read_spool        # callers also import it from here

#: URL path -> signal (otlp.go registers exactly these three).
_ROUTES = {f"/v1/{s}": s for s in spool.SIGNALS}

#: what a handler answers: status code, headers (Content-Length
#: aside), body
Reply = tuple[int, list[tuple[str, str]], bytes]


#: seconds ``KeepAliveServer.close`` lets a request in flight finish
_DRAIN_S = 5.0

#: a refusal sent before the body is read also closes the connection,
#: so the unread body is never parsed as the next request
_CLOSE = ("Connection", "close")


def _send(h: BaseHTTPRequestHandler, reply: Reply) -> None:
    """Write ``reply``; a ``Connection: close`` header in it ends the
    keep-alive connection after this reply, as it does on a stopping
    server."""
    code, headers, body = reply
    if h.server.stopping and _CLOSE not in headers:
        headers = [*headers, _CLOSE]
    h.send_response(code)
    for name, value in headers:
        h.send_header(name, value)
    h.send_header("Content-Length", str(len(body)))
    h.end_headers()
    h.wfile.write(body)


def metrics_reply(exposition, accept_encoding: str | None) -> Reply:
    """``GET /metrics``: the Prometheus text exposition, compressed as
    the client accepts (the receiver's shared listener and the
    standalone scrape server answer through this)."""
    from .compression import encode_response
    coding, body = encode_response(accept_encoding, exposition.render())
    headers = [("Content-Type", "text/plain; version=0.0.4; charset=utf-8")]
    if coding is not None:
        headers.append(("Content-Encoding", coding))
    return 200, headers, body


class KeepAliveHandler(BaseHTTPRequestHandler):
    """The stdlib handler both servers derive from: HTTP/1.1 keep-alive
    and ``TCP_NODELAY`` (as on every gRPC socket here and every Go
    ``net`` connection), so a reply's header and body writes are not
    held back by Nagle's algorithm on a live connection.  It reports its
    connection and each request to its :class:`KeepAliveServer`."""
    protocol_version = "HTTP/1.1"
    disable_nagle_algorithm = True
    #: socket timeout (s): an idle keep-alive connection, or a client
    #: stalled mid-request, releases its handler thread after this
    timeout = 60

    def log_message(self, *a):                  # keep test output quiet
        pass

    def setup(self):
        super().setup()
        self.server.track(self.request)

    def finish(self):
        try:
            super().finish()
        finally:
            self.server.untrack(self.request)

    def parse_request(self):
        # a request line has arrived: busy until its reply is written
        if not self.server.busy(self.request, True):
            self.close_connection = True
            return False
        return super().parse_request()

    def handle_one_request(self):
        try:
            super().handle_one_request()
        finally:
            if not self.server.busy(self.request, False):
                self.close_connection = True


class KeepAliveServer(ThreadingHTTPServer):
    """The stdlib server both listeners run.  It keeps its live
    connections, so :meth:`close` ends them as Go's ``Server.Shutdown``
    does: ``shutdown()`` alone only stops the accept loop, and a
    kept-alive client would go on being served."""
    daemon_threads = True

    def __init__(self, *args, **kwargs):
        self.stopping = False
        self._conns: dict = {}          # socket -> a request in flight
        self._cv = threading.Condition()
        super().__init__(*args, **kwargs)

    def track(self, sock) -> None:
        with self._cv:
            self._conns[sock] = False
            if self.stopping:
                _hang_up(sock)

    def untrack(self, sock) -> None:
        with self._cv:
            self._conns.pop(sock, None)
            self._cv.notify_all()

    def busy(self, sock, flag: bool) -> bool:
        """Mark a request on ``sock`` begun or done; False once the
        server stops: no request starts, and a finished one closes its
        connection."""
        with self._cv:
            if sock in self._conns:
                self._conns[sock] = flag
            return not self.stopping

    def close(self) -> None:
        """Stop accepting, hang up idle connections, let a request in
        flight finish (its reply carries ``Connection: close``), and cut
        what is left after ``_DRAIN_S``."""
        self.shutdown()
        with self._cv:
            self.stopping = True
            for sock, in_flight in self._conns.items():
                if not in_flight:
                    _hang_up(sock)
            self._cv.wait_for(lambda: not self._conns, _DRAIN_S)
            for sock in self._conns:
                _hang_up(sock)
        self.server_close()


def _hang_up(sock) -> None:
    """End both directions of ``sock``: its handler's read sees end of
    file.  The plain socket's ``shutdown``, also under TLS, so the TLS
    object stays with the handler thread that reads it."""
    try:
        socket.socket.shutdown(sock, socket.SHUT_RDWR)
    except OSError:
        pass                                    # the peer already left


class _HandshakeRefused(Exception):
    """A TLS client failed the handshake (counted as a refusal)."""


def _inflate_capped(data: bytes, cap: int, wbits: int,
                    chunk: int = 1 << 20) -> bytes:
    """Inflate zlib-family `data`, rejecting as soon as output exceeds
    `cap`.

    confighttp caps bytes read from the *decompressed* stream incrementally
    (config/confighttp compression.go wraps the body in a limited reader);
    a one-shot decompress() would materialize an arbitrarily large
    bomb before any size check runs. wbits=47 accepts gzip and zlib
    framing (stdlib gzip tolerance); wbits=15 is plain zlib — the
    reference's "deflate" decoder is zlib.NewReader, i.e. zlib-framed
    (compression.go:113-119).
    """
    d = zlib.decompressobj(wbits=wbits)
    out: list[bytes] = []
    total = 0
    buf = data
    while True:
        piece = d.decompress(buf, chunk)
        total += len(piece)
        if total > cap:
            raise ValueError("decompressed body exceeds limit")
        out.append(piece)
        buf = d.unconsumed_tail
        if d.eof:
            break
        if not buf and not piece:
            raise ValueError("truncated compressed body")
    return b"".join(out)


def _gunzip_capped(data: bytes, cap: int) -> bytes:
    return _inflate_capped(data, cap, wbits=47)


def _zstd_capped(data: bytes, cap: int) -> bytes:
    """Decompress one zstd frame with the size cap enforced BEFORE any
    oversized allocation.  Two shapes arrive in practice:

    - one-shot encoders write the RFC 8878 Frame_Content_Size field —
      parse it first (clean-room; magic + FHD flags -> FCS width/
      offset), refuse over-cap claims pre-allocation, then decode with
      pyarrow at that exact size;
    - the reference's own HTTP/gRPC clients compress with a STREAMING
      ``zstd.NewWriter`` (confighttp/compressor.go:31), which emits
      frames WITHOUT the content-size field — those are decompressed
      incrementally through pyarrow's CompressedInputStream with the
      cap enforced per 64 KiB chunk (mirror of ``_inflate_capped``),
      so a zstd bomb still dies at the cap, never at allocation."""
    if len(data) < 6 or data[:4] != b"\x28\xb5\x2f\xfd":
        raise ValueError("not a zstd frame")
    fhd = data[4]
    if fhd & 0x08:
        raise ValueError("reserved bit set in zstd frame header")
    single_segment = (fhd >> 5) & 1
    fcs_flag = fhd >> 6
    did_size = (0, 1, 2, 4)[fhd & 0x03]
    pos = 5 + (0 if single_segment else 1) + did_size
    import pyarrow as pa
    if fcs_flag == 0 and not single_segment:
        # Sizeless streaming-mode frame: bounded incremental decode.
        out = bytearray()
        rd = pa.CompressedInputStream(pa.BufferReader(data), "zstd")
        while True:
            chunk = rd.read(65536)
            if not chunk:
                return bytes(out)
            out += chunk
            if len(out) > cap:
                raise ValueError("decompressed body exceeds limit")
    if fcs_flag == 0:
        size = data[pos]
    elif fcs_flag == 1:
        size = int.from_bytes(data[pos:pos + 2], "little") + 256
    elif fcs_flag == 2:
        size = int.from_bytes(data[pos:pos + 4], "little")
    else:
        size = int.from_bytes(data[pos:pos + 8], "little")
    if size > cap:
        raise ValueError("decompressed body exceeds limit")
    return bytes(pa.Codec("zstd").decompress(data, size))


#: coding -> capped decoder, for both receivers: the reference
#: decompressor's decoder map (confighttp/compression.go:83-123: gzip,
#: zstd, zlib, deflate=zlib) plus configgrpc's framed snappy
#: (configgrpc.go:384-392; chunk CRC32C verified, cap enforced per
#: chunk).  Each receiver admits only its own set of codings.
_BODY_DECODERS = {
    "gzip": _gunzip_capped,
    "zstd": _zstd_capped,
    "zlib": lambda b, cap: _inflate_capped(b, cap, wbits=15),
    "deflate": lambda b, cap: _inflate_capped(b, cap, wbits=15),
    "snappy": frame_decompress,
}


def _decompress_body(encoding: str, body: bytes, cap: int,
                     allowed: frozenset) -> bytes:
    """Decode ``body`` capped at ``cap`` bytes; an empty ``encoding``
    is identity, one outside ``allowed`` is "unsupported"."""
    if not encoding:
        return body
    if encoding not in allowed:
        raise ValueError(f"unsupported encoding: {encoding}")
    return _BODY_DECODERS[encoding](body, cap)


class OtlpHttpReceiver:
    """Minimal OTLP/HTTP server spooling requests for Spark ingest.

    Usage::

        rcv = OtlpHttpReceiver(spool_dir)
        rcv.start()                      # returns (host, port)
        ... clients POST to /v1/traces etc ...
        df = rcv.read_spool(spark, "traces")   # or point a streaming
        rcv.stop()                             # file source at the dirs
    """

    def __init__(self, spool_dir: str, *, host: str = "127.0.0.1",
                 port: int = 0, token: str | None = None,
                 authenticator=None,
                 max_pending_files: int = 100_000,
                 max_body_bytes: int = 64 * 1024 * 1024,
                 tls=None, zpages=None, exposition=None,
                 record_client_info: bool = False):
        from .auth import resolve_authenticator
        self.spool_dir = spool_dir
        self.host, self._port = host, port
        self.token = token
        # configauth surface (extension/auth/server.go:18-29): a named/
        # callable/instance authenticator; token= stays as bearer sugar
        self.authenticator = resolve_authenticator(authenticator, token)
        self.tls = tls                       # TLSConfig | None (configtls)
        self.zpages = zpages                 # plans.zpages.ZPages | None
        # plans.proctelemetry.PrometheusExposition | None: attaching one
        # serves GET /metrics from this receiver's listener, the
        # confighttp shared-server stance for an empty
        # telemetry.metrics.address
        self.exposition = exposition
        self.max_pending_files = max_pending_files
        self.max_body_bytes = max_body_bytes
        # client.Info surface (reference client/client.go:86-151): pb
        # spool laid out client_addr=/client_principal= so ingest can
        # expose peer + principal columns (read_spool(client_info=True)).
        self.record_client_info = record_client_info
        self.counters: dict[str, int] = {}   # obsreport-style
        self._writer = spool.Writer(spool_dir, ("json", "pb"))
        self._lock = threading.Lock()
        self._server: KeepAliveServer | None = None
        self._thread: threading.Thread | None = None

    # -- lifecycle ---------------------------------------------------------

    def start(self) -> tuple[str, int]:
        receiver = self

        class ReceiverHandler(KeepAliveHandler):
            def setup(self):
                # TLS handshake runs HERE (handler thread), not in the
                # accept loop: socketserver silently swallows OSErrors in
                # get_request, but a setup() failure routes through
                # handle_error -> the refusal counter
                if receiver.tls is not None:
                    try:
                        self.request.do_handshake()
                    except OSError as e:
                        raise _HandshakeRefused from e
                super().setup()

            def do_POST(self):                  # noqa: N802 (stdlib name)
                t0 = time.perf_counter()
                reply = receiver._handle(self)
                rec = getattr(receiver.zpages, "tracez_recorder", None)
                if rec is not None:
                    # operation-boundary span for /debug/tracez
                    # (zpagesextension.go:45-52 span processor),
                    # recorded before the reply, so a client that has
                    # read the reply finds the span
                    code = reply[0]
                    rec.record(f"receiver{self.path.split('?', 1)[0]}",
                               int((time.perf_counter() - t0) * 1e6),
                               error=code >= 400, detail=f"HTTP {code}")
                _send(self, reply)

            def do_GET(self):                   # noqa: N802 (stdlib name)
                _send(self, receiver._handle_status(self))

        class Server(KeepAliveServer):
            def handle_error(self, request, client_address):
                # TLS handshake failures from unauthorized clients are an
                # expected refusal path, not a server crash; any other
                # handler error is a connection error, as on the gRPC
                # receiver.  Count, don't spew tracebacks.
                refused = isinstance(sys.exc_info()[1], _HandshakeRefused)
                receiver._count("refused_tls_handshake" if refused
                                else "conn_error")

        self._server = Server((self.host, self._port), ReceiverHandler)
        if self.tls is not None:
            self._server.socket = self.tls.server_context().wrap_socket(
                self._server.socket, server_side=True,
                do_handshake_on_connect=False)
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="otlp-http", daemon=True)
        self._thread.start()
        self._port = self._server.server_address[1]
        return self.host, self._port

    def stop(self) -> None:
        if self._server is not None:
            self._server.close()
            self._server = None

    @property
    def endpoint(self) -> str:
        scheme = "https" if self.tls is not None else "http"
        return f"{scheme}://{self.host}:{self._port}"

    # -- request handling --------------------------------------------------

    def _count(self, key: str) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0) + 1

    def _handle(self, h: BaseHTTPRequestHandler) -> Reply:
        signal = _ROUTES.get(h.path)
        if signal is None:
            self._count("refused_not_found")
            return self._refuse(404, b"unknown signal path")
        principal = "anonymous"
        if self.authenticator is not None:
            try:
                principal = self.authenticator.authenticate(
                    {k.lower(): v for k, v in h.headers.items()})
            except Exception:
                # any authenticator error is a non-retryable refusal
                # (auth/server.go:21-22)
                self._count(f"refused_unauth_{signal}")
                return self._refuse(401, b"unauthorized")
        ctype = (h.headers.get("Content-Type") or "").split(";")[0].strip()
        if ctype == "application/json":
            wire = "json"
        elif ctype == "application/x-protobuf":
            wire = "pb"
        else:
            self._count(f"refused_content_type_{signal}")
            return self._refuse(415, b"unsupported content type")
        if self._writer.pending(signal) >= self.max_pending_files:
            # memory-limiter refusal: backpressure, never accept-and-drop
            self._count(f"refused_backpressure_{signal}")
            return 503, [("Retry-After", "1"), _CLOSE], b""
        length = h.headers.get("Content-Length")
        if length is None or "Transfer-Encoding" in h.headers:
            # only a Content-Length-delimited body is read (a chunked
            # one would otherwise spool as an empty request)
            self._count(f"refused_length_required_{signal}")
            return self._refuse(411, b"Content-Length required")
        if not (length.isascii() and length.isdigit()):
            self._count(f"refused_bad_length_{signal}")
            return self._refuse(400, b"malformed Content-Length")
        n = int(length)
        if n > self.max_body_bytes:
            # the reference caps request size (confighttp max_request_body_
            # size); reject BEFORE reading the body
            self._count(f"refused_too_large_{signal}")
            return self._refuse(413, b"request body too large")
        try:
            body = h.rfile.read(n)
        except TimeoutError:                    # the client stalled
            body = b""
        if len(body) < n:
            # the rest of the body may still arrive: end the connection
            self._count(f"refused_bad_payload_{signal}")
            return self._refuse(400, b"body shorter than Content-Length")
        try:
            body = _decompress_body(
                h.headers.get("Content-Encoding", "").lower(),
                body, self.max_body_bytes, HTTP_CODINGS)
            payload = self._validate(body, signal, wire)
        except Exception as e:                   # malformed -> 400, no spool
            self._count(f"refused_bad_payload_{signal}")
            return self._plain(400, str(e).encode()[:512])
        client = ("%s:%s" % h.client_address[:2], principal)
        self._writer.write_request(
            payload, signal, wire, client if self.record_client_info else None)
        self._count(f"accepted_{signal}_{wire}")
        # empty partial-success response in the request's content type
        resp = b"{}" if wire == "json" else b""
        return 200, [("Content-Type", ctype)], resp

    def _handle_status(self, h: BaseHTTPRequestHandler) -> Reply:
        """GET /status — the zpages-style diagnostics surface
        (extension/zpagesextension analogue): request counters + spool
        occupancy as JSON.  With a ``zpages`` object attached, also
        serves the reference's /debug/{servicez,pipelinez,extensionz,
        featurez} HTML pages (service/zpages.go:17-23)."""
        if (self.exposition is not None
                and h.path.split("?", 1)[0] == "/metrics"):
            return metrics_reply(self.exposition,
                                 h.headers.get("Accept-Encoding"))
        if self.zpages is not None and h.path.startswith("/debug/"):
            from urllib.parse import parse_qsl, urlsplit
            parts = urlsplit(h.path)
            page = self.zpages.handle(parts.path, dict(parse_qsl(parts.query)))
            if page is None:
                return self._plain(404, b"not found")
            code, body = page
            return code, [("Content-Type", "text/html; charset=utf-8")], body
        if h.path != "/status":
            return self._plain(404, b"not found")
        with self._lock:
            counters = dict(self.counters)
        body = json.dumps({
            "counters": counters,
            "pending_files": {s: self._writer.pending(s)
                              for s in spool.SIGNALS},
            "max_pending_files": self.max_pending_files,
        }, sort_keys=True).encode()
        return 200, [("Content-Type", "application/json")], body

    @staticmethod
    def _plain(code: int, msg: bytes) -> Reply:
        return code, [("Content-Type", "text/plain")], msg

    @staticmethod
    def _refuse(code: int, msg: bytes) -> Reply:
        """A refusal answered before the whole body is read."""
        return code, [("Content-Type", "text/plain"), _CLOSE], msg

    def _validate(self, body: bytes, signal: str, wire: str) -> bytes:
        """Decode-before-ack (otlp.go does a full unmarshal): returns the
        canonical spool payload or raises."""
        if wire == "json":
            doc = json.loads(body)
            if not isinstance(doc, dict):
                raise ValueError("OTLP/JSON body must be an object")
            # one request doc per line — the line-oriented shape
            # read_otlp_json consumes
            return json.dumps(doc, separators=(",", ":")).encode()
        from .otlp_pb import decode_request
        decode_request(body, signal)             # raises on bad wire bytes
        return body

    # -- Spark ingest ------------------------------------------------------

    def read_spool(self, spark, signal: str, client_info: bool = False):
        """Batch-ingest everything spooled for one signal (both wire
        formats) into the engine's row model.  ``client_info=True`` adds
        ``client_addr``/``client_principal`` columns (NULL for the JSON
        spool, which records no per-file peer metadata)."""
        return read_spool(spark, self.spool_dir, signal,
                          client_info=client_info)
