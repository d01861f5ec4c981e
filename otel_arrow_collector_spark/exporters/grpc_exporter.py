"""OTLP/gRPC push exporter — the live egress twin of
``sources/grpc_receiver.py`` (exporter/otlpexporter/otlp.go:121-176: one
unary Export per request batch, gRPC status -> retry mapping,
RetryInfo/pushback honoring).

Like the HTTP exporter, POSTs happen ON EXECUTORS inside ``mapInArrow``:
each task slices its partition into ``max_rows_per_request`` requests,
encodes them with the dependency-free pb codec, and drives a
throttle-aware :class:`RetrySender` per request over a stdlib HTTP/2
connection (``sources/h2.py`` + the RFC 7541 codec).  No grpcio anywhere.

Retryable status codes follow otlpexporter's shouldRetry: CANCELLED(1),
DEADLINE_EXCEEDED(4), ABORTED(10), OUT_OF_RANGE(11), UNAVAILABLE(14),
DATA_LOSS(15) retry with backoff; RESOURCE_EXHAUSTED(8) retries only as a
throttle when the server supplies ``grpc-retry-pushback-ms`` (otherwise
permanent — the reference's RetryInfo rule); everything else is
permanent.

Every connection, the unary :func:`grpc_call`'s and the
:class:`ArrowStreamClient`'s, comes from ``h2.connect`` with
``TCP_NODELAY`` set, matching Go's ``net`` default under grpc-go: a
request is a few small writes, and Nagle's algorithm holds a small
write while an earlier one is unacknowledged, so each call would wait
for the server's delayed ACK, about 40 ms.
"""

from __future__ import annotations

import socket
import struct
import urllib.parse

from pyspark.sql import DataFrame

from ..sources import h2
from ..sources.hpack import HpackDecoder, HpackEncoder
from .retry import (PermanentError, RetryConfig, RetrySender, ThrottleError,
                    TransientError)

_RETRY_BACKOFF = {1, 4, 10, 11, 14, 15}

_PATHS = {
    "traces": "/opentelemetry.proto.collector.trace.v1.TraceService/Export",
    "logs": "/opentelemetry.proto.collector.logs.v1.LogsService/Export",
    "metrics":
        "/opentelemetry.proto.collector.metrics.v1.MetricsService/Export",
}


class GrpcCallError(Exception):
    def __init__(self, status: int, message: str,
                 pushback_ms: int | None = None):
        super().__init__(f"grpc-status {status}: {message}")
        self.status, self.message, self.pushback_ms = (
            status, message, pushback_ms)


def grpc_call(host: str, port: int, path: str, message: bytes, *,
              token: str | None = None, compress: bool | str = False,
              metadata: dict[str, str] | None = None,
              timeout_s: float = 10.0) -> bytes:
    """One unary gRPC call over a fresh HTTP/2 connection; returns the
    response message bytes or raises :class:`GrpcCallError`."""
    body = message
    coding = None
    if compress:
        from ..sources.compression import GRPC_CODINGS, encode_body
        try:
            coding, body = encode_body(compress, body, GRPC_CODINGS)
        except ValueError as e:
            raise ValueError(f"unsupported grpc compression: "
                             f"{compress}") from e
    frame = h2.grpc_frame(body, compressed=bool(compress))
    with h2.connect(host, port, timeout_s) as sock:
        sock.sendall(h2.PREFACE + h2.pack_frame(h2.SETTINGS, 0, 0))
        enc, dec = HpackEncoder(), HpackDecoder()
        headers = [(":method", "POST"), (":scheme", "http"),
                   (":path", path), (":authority", f"{host}:{port}"),
                   ("content-type", "application/grpc"),
                   ("te", "trailers")]
        if coding is not None:
            headers.append(("grpc-encoding", coding))
        if token is not None:
            headers.append(("authorization", f"Bearer {token}"))
        if metadata:
            # custom call metadata (lower-cased per HTTP/2), e.g. the
            # identity headers a pluggable authenticator consumes
            headers.extend((k.lower(), v) for k, v in metadata.items())
        out = [h2.pack_frame(h2.HEADERS, h2.FLAG_END_HEADERS, 1,
                             enc.encode(headers))]
        out += h2.chunk_data_frames(1, frame, end_stream=True)
        sock.sendall(b"".join(out))
        resp_headers: dict[str, str] = {}
        resp_data = bytearray()
        frag = bytearray()
        while True:
            ftype, flags, sid, payload = h2.recv_frame(sock)
            if ftype == h2.SETTINGS:
                if not flags & h2.FLAG_ACK:
                    sock.sendall(h2.pack_frame(h2.SETTINGS, h2.FLAG_ACK, 0))
            elif ftype == h2.PING:
                if not flags & h2.FLAG_ACK:
                    sock.sendall(h2.pack_frame(
                        h2.PING, h2.FLAG_ACK, 0, payload))
            elif ftype == h2.GOAWAY:
                raise h2.H2Error("server sent GOAWAY before trailers")
            elif ftype == h2.RST_STREAM:
                code = struct.unpack(">I", payload)[0]
                raise h2.H2Error(f"stream reset, error code {code}")
            elif ftype in (h2.WINDOW_UPDATE, h2.PRIORITY):
                pass
            elif ftype in (h2.HEADERS, h2.CONTINUATION):
                body_ = payload
                if ftype == h2.HEADERS:
                    body_ = h2.strip_padding(flags, payload)
                    if flags & h2.FLAG_PRIORITY:
                        body_ = body_[5:]
                frag += body_
                if flags & h2.FLAG_END_HEADERS:
                    resp_headers.update(dict(dec.decode(bytes(frag))))
                    frag.clear()
                if flags & h2.FLAG_END_STREAM:
                    break
            elif ftype == h2.DATA:
                resp_data += h2.strip_padding(flags, payload)
                if flags & h2.FLAG_END_STREAM:     # no trailers (non-gRPC)
                    break
            else:
                raise h2.H2Error(f"unexpected frame type {ftype}")
        status = int(resp_headers.get("grpc-status", "2"))
        if status != 0:
            pb = resp_headers.get("grpc-retry-pushback-ms")
            raise GrpcCallError(status, resp_headers.get("grpc-message", ""),
                                int(pb) if pb is not None else None)
        msgs = h2.parse_grpc_frames(bytes(resp_data))
        return msgs[0][1] if msgs else b""


def _call_with_retry_mapping(host, port, path, message, token, compress,
                             timeout_s, auth=None) -> None:
    """Map gRPC/transport failures onto the retry chain's typed errors.
    ``auth`` is a ClientAuthenticator queried per call (the
    PerRPCCredentials semantics, client.go:41-49)."""
    try:
        grpc_call(host, port, path, message, token=token,
                  metadata=auth.auth_headers() if auth is not None
                  else None,
                  compress=compress, timeout_s=timeout_s)
    except GrpcCallError as e:
        if e.status == 8:                      # RESOURCE_EXHAUSTED
            if e.pushback_ms is not None:      # RetryInfo -> throttle
                raise ThrottleError(str(e), e.pushback_ms / 1000.0) from e
            raise PermanentError(str(e)) from e
        if e.status in _RETRY_BACKOFF:
            raise TransientError(str(e)) from e
        raise PermanentError(str(e)) from e
    except ValueError as e:
        # misconfiguration (e.g. unsupported compression): no retry can
        # heal it — keep the typed-error contract the RetrySender expects
        raise PermanentError(str(e)) from e
    except (h2.H2Error, ConnectionError, OSError, socket.timeout) as e:
        raise TransientError(f"transport: {e}") from e


def export_grpc(df: DataFrame, endpoint: str, signal: str = "traces", *,
                token: str | None = None, authenticator=None,
                compress: bool = False,
                max_rows_per_request: int = 8192,
                retry_config: RetryConfig | None = None) -> DataFrame:
    """Build the gRPC export stage (lazy; see the HTTP exporter's shape).
    Egress parallelism = partition count; the per-task result rows make
    the export auditable with ordinary SQL."""
    from ..sources.otlp_pb import _SCHEMAS, _plainify, encode_request
    from .http_exporter import RESULT_SCHEMA
    if signal not in _SCHEMAS:
        raise NotImplementedError(
            f"OTLP/gRPC export for signal {signal!r} "
            f"(supported: {sorted(_SCHEMAS)})")
    u = urllib.parse.urlparse(endpoint)
    if u.scheme not in ("grpc", "http") or u.hostname is None:
        raise ValueError(
            f"endpoint must be grpc://host:port, got {endpoint!r}")
    host, port = u.hostname, u.port or 4317
    path = _PATHS[signal]
    schema = _SCHEMAS[signal]
    cfg = retry_config or RetryConfig()
    from ..sources.auth import resolve_client_authenticator
    auth = resolve_client_authenticator(authenticator)

    def send_partition(batches):
        import pyarrow as pa
        rows: list[dict] = []
        for batch in batches:
            for rec in batch.to_pylist():
                rows.append({f.name: _plainify(rec.get(f.name), f.dataType)
                             for f in schema.fields})
        n_requests = 0
        attempts = 0

        def push(body: bytes):
            nonlocal attempts
            attempts += 1
            _call_with_retry_mapping(host, port, path, body, token,
                                     compress, cfg.attempt_timeout_s,
                                     auth)

        sender = RetrySender(push, cfg, signal=signal)
        for i in range(0, len(rows), max_rows_per_request):
            chunk = rows[i:i + max_rows_per_request]
            sender.send(encode_request(chunk, signal), count=len(chunk))
            n_requests += 1
        if rows:
            yield pa.RecordBatch.from_pylist(
                [{"endpoint": endpoint, "rows_sent": len(rows),
                  "n_requests": n_requests, "n_attempts": attempts}],
                schema=pa.schema([
                    pa.field("endpoint", pa.string()),
                    pa.field("rows_sent", pa.int64()),
                    pa.field("n_requests", pa.int32()),
                    pa.field("n_attempts", pa.int32())]))

    return df.mapInArrow(send_partition, RESULT_SCHEMA)


def export_grpc_now(df: DataFrame, endpoint: str, signal: str = "traces",
                    **kw) -> dict:
    """Run the export eagerly; returns audit totals."""
    from pyspark.sql import functions as F
    res = (export_grpc(df, endpoint, signal, **kw)
           .agg(F.sum("rows_sent").alias("rows_sent"),
                F.sum("n_requests").alias("n_requests"),
                F.sum("n_attempts").alias("n_attempts"),
                F.count(F.lit(1)).alias("n_tasks"))
           .first())
    return {k: (0 if res[k] is None else int(res[k]))
            for k in ("rows_sent", "n_requests", "n_attempts", "n_tasks")}


class ArrowStreamClient:
    """Bidi OTel-Arrow stream client over the stdlib HTTP/2 stack — the
    exporter half of the fork's signature RPC in SendAndWait mode: each
    ``send_batch`` ships one BatchArrowRecords and blocks on its
    BatchStatus ack (exporter/otlpexporter/internal/arrow/stream.go's
    per-batch round trip; statuses arrive on the reverse direction of
    ONE long-lived stream, not per-RPC).

    Usage::

        c = ArrowStreamClient(host, port)         # mixed-signal service
        st = c.send_batch(1, [("s0", PAYLOAD_SPANS, ipc_bytes)])
        assert st["status_code"] == 0
        c.close()                                  # half-close + trailers
    """

    MIXED_PATH = ("/opentelemetry.proto.experimental.arrow.v1"
                  ".ArrowStreamService/ArrowStream")

    def __init__(self, host: str, port: int, *, path: str | None = None,
                 token: str | None = None, timeout_s: float = 10.0):
        self.sock = h2.connect(host, port, timeout_s)
        self.enc, self.dec = HpackEncoder(), HpackDecoder()
        self._resp = bytearray()
        self._frag = bytearray()
        self.resp_headers: dict[str, str] = {}
        self.trailers: dict[str, str] = {}
        self.ended = False
        self.sock.sendall(h2.PREFACE + h2.pack_frame(h2.SETTINGS, 0, 0))
        headers = [(":method", "POST"), (":scheme", "http"),
                   (":path", path or self.MIXED_PATH),
                   (":authority", f"{host}:{port}"),
                   ("content-type", "application/grpc"),
                   ("te", "trailers")]
        if token is not None:
            headers.append(("authorization", f"Bearer {token}"))
        self.sock.sendall(h2.pack_frame(
            h2.HEADERS, h2.FLAG_END_HEADERS, 1, self.enc.encode(headers)))

    def send_batch(self, batch_id: int,
                   payloads: list[tuple[str, int, bytes]],
                   headers: bytes = b"") -> dict:
        from ..sources.arrow_service import decode_status, encode_batch
        msg = h2.grpc_frame(encode_batch(batch_id, payloads, headers))
        self.sock.sendall(b"".join(h2.chunk_data_frames(1, msg, False)))
        status_msg = self._recv_message()
        return decode_status(status_msg)

    def close(self) -> dict[str, str]:
        """Half-close the request direction; drain until trailers."""
        self.sock.sendall(h2.pack_frame(
            h2.DATA, h2.FLAG_END_STREAM, 1))
        while not self.ended:
            self._pump_one()
        self.sock.close()
        return self.trailers

    # -- frame pump --------------------------------------------------------

    def _recv_message(self) -> bytes:
        while True:
            msg = self._pop_message()
            if msg is not None:
                return msg
            if self.ended:
                raise GrpcCallError(
                    int(self.trailers.get("grpc-status", "2")),
                    self.trailers.get("grpc-message",
                                      "stream ended before ack"))
            self._pump_one()

    def _pop_message(self) -> bytes | None:
        if len(self._resp) < 5:
            return None
        ln = struct.unpack_from(">I", self._resp, 1)[0]
        if len(self._resp) < 5 + ln:
            return None
        msg = bytes(self._resp[5:5 + ln])
        del self._resp[:5 + ln]
        return msg

    def _pump_one(self) -> None:
        ftype, flags, sid, payload = h2.recv_frame(self.sock)
        if ftype == h2.SETTINGS:
            if not flags & h2.FLAG_ACK:
                self.sock.sendall(
                    h2.pack_frame(h2.SETTINGS, h2.FLAG_ACK, 0))
        elif ftype == h2.PING:
            if not flags & h2.FLAG_ACK:
                self.sock.sendall(
                    h2.pack_frame(h2.PING, h2.FLAG_ACK, 0, payload))
        elif ftype in (h2.WINDOW_UPDATE, h2.PRIORITY):
            pass
        elif ftype == h2.RST_STREAM:
            code = struct.unpack(">I", payload)[0]
            raise h2.H2Error(f"stream reset, error code {code}")
        elif ftype == h2.GOAWAY:
            raise h2.H2Error("server sent GOAWAY")
        elif ftype in (h2.HEADERS, h2.CONTINUATION):
            body = payload
            if ftype == h2.HEADERS:
                body = h2.strip_padding(flags, payload)
                if flags & h2.FLAG_PRIORITY:
                    body = body[5:]
            self._frag += body
            if flags & h2.FLAG_END_HEADERS:
                block = dict(self.dec.decode(bytes(self._frag)))
                self._frag.clear()
                if "grpc-status" in block or flags & h2.FLAG_END_STREAM:
                    self.trailers.update(block)
                else:
                    self.resp_headers.update(block)
            if flags & h2.FLAG_END_STREAM:
                self.ended = True
        elif ftype == h2.DATA:
            self._resp += h2.strip_padding(flags, payload)
            if flags & h2.FLAG_END_STREAM:
                self.ended = True
        else:
            raise h2.H2Error(f"unexpected frame type {ftype}")



def export_arrow_stream(df: DataFrame, endpoint: str, *,
                        payload_type: int = 40, token: str | None = None,
                        timeout_s: float = 10.0) -> DataFrame:
    """EXECUTOR-side OTel-Arrow stream export: each partition opens ONE
    long-lived bidi stream, ships its Arrow batches as consecutive
    BatchArrowRecords on a single logical IPC stream (schema sent once,
    then record-batch continuations — the fork's per-stream producer
    state), awaits the per-batch acks, and half-closes.  Returns one
    audit row per non-empty partition.

    This is the exporter half of the reference's arrow exporter in
    SendAndWait mode (exporter/otlpexporter/internal/arrow/stream.go),
    running where the data lives — no driver collect.
    """
    import io

    import pyarrow as pa

    u = urllib.parse.urlparse(endpoint)
    host, port = u.hostname, u.port
    result_schema = pa.schema([
        pa.field("endpoint", pa.string()),
        pa.field("rows_sent", pa.int64()),
        pa.field("n_batches", pa.int32()),
        pa.field("all_acked", pa.bool_())])

    def send_partition(batches):
        client = None
        rows = n = 0
        ok = True
        sink = io.BytesIO()
        writer = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if client is None:
                client = ArrowStreamClient(host, port, token=token,
                                           timeout_s=timeout_s)
                writer = pa.ipc.new_stream(sink, batch.schema)
            writer.write_batch(batch)
            # Drain the sink per batch: the IPC writer keeps its
            # schema/dictionary state, so truncating costs nothing and
            # keeps executor memory O(one fragment), not O(partition).
            frag = sink.getvalue()
            sink.seek(0)
            sink.truncate(0)
            n += 1
            st = client.send_batch(n, [("part", payload_type, frag)])
            ok = ok and st["status_code"] == 0
            rows += batch.num_rows
        if client is not None:
            client.close()
            yield pa.RecordBatch.from_pylist(
                [{"endpoint": endpoint, "rows_sent": rows,
                  "n_batches": n, "all_acked": ok}],
                schema=result_schema)

    from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                                   StringType, StructField, StructType)
    out_schema = StructType([
        StructField("endpoint", StringType()),
        StructField("rows_sent", LongType()),
        StructField("n_batches", IntegerType()),
        StructField("all_acked", BooleanType())])
    return df.mapInArrow(send_partition, out_schema)
