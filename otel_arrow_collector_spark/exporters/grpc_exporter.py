"""OTLP/gRPC push exporter — the live egress twin of
``sources/grpc_receiver.py`` (exporter/otlpexporter/otlp.go:121-176: one
unary Export per request batch, gRPC status -> retry mapping,
RetryInfo/pushback honoring).

Like the HTTP exporter, pushes happen ON EXECUTORS inside ``mapInArrow``
(the stage ``http_exporter._push_stage`` both exporters share): each task
slices its partition into ``max_rows_per_request`` requests, encodes
them with the dependency-free pb codec, and drives a throttle-aware
:class:`RetrySender` per request over a stdlib HTTP/2 connection
(``sources/h2.py`` + the RFC 7541 codec).  No grpcio anywhere.

Retryable status codes follow otlpexporter's shouldRetry: CANCELLED(1),
DEADLINE_EXCEEDED(4), ABORTED(10), OUT_OF_RANGE(11), UNAVAILABLE(14),
DATA_LOSS(15) retry with backoff; RESOURCE_EXHAUSTED(8) retries only as a
throttle when the server supplies ``grpc-retry-pushback-ms`` (otherwise
permanent — the reference's RetryInfo rule); everything else is
permanent.

The unary :func:`grpc_call` and the :class:`ArrowStreamClient` are two
uses of one :class:`ClientStream`: a gRPC call on stream 1 of a fresh
connection, read through ``h2.ConnectionReader``.  ``grpc_call`` sends
one message with END_STREAM and reads to the trailers; the Arrow client
keeps the stream open.  Every connection comes from ``h2.connect`` with
``TCP_NODELAY`` set, matching Go's ``net`` default under grpc-go: a
request is a few small writes, and Nagle's algorithm holds a small
write while an earlier one is unacknowledged, so each call would wait
for the server's delayed ACK, about 40 ms.
"""

from __future__ import annotations

import socket
import urllib.parse

from pyspark.sql import DataFrame

from ..sources import h2
from ..sources.hpack import HpackEncoder
from .retry import (PermanentError, RetryConfig, ThrottleError,
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


class ClientStream:
    """One gRPC call on stream 1 of a fresh HTTP/2 connection.

    The constructor sends the preface, an empty SETTINGS and the request
    HEADERS in one write; ``extra`` headers (e.g. ``grpc-encoding``,
    call metadata) follow the standard ones.  :meth:`send` ships
    already length-prefixed gRPC bytes; :meth:`recv_message` and
    :meth:`finish` read the response through one
    ``h2.ConnectionReader``, sorting header blocks into
    ``resp_headers`` and ``trailers``.
    """

    def __init__(self, host: str, port: int, path: str, timeout_s: float,
                 token: str | None = None, extra=()):
        self.sock = h2.connect(host, port, timeout_s)
        self.reader = h2.ConnectionReader(self.sock)
        self.resp = bytearray()
        self.resp_headers: dict[str, str] = {}
        self.trailers: dict[str, str] = {}
        self.ended = False
        headers = [(":method", "POST"), (":scheme", "http"),
                   (":path", path), (":authority", f"{host}:{port}"),
                   ("content-type", "application/grpc"),
                   ("te", "trailers")]
        if token is not None:
            headers.append(("authorization", f"Bearer {token}"))
        headers.extend(extra)
        try:
            self.sock.sendall(
                h2.PREFACE + h2.pack_frame(h2.SETTINGS, 0, 0)
                + h2.pack_frame(h2.HEADERS, h2.FLAG_END_HEADERS, 1,
                                HpackEncoder().encode(headers)))
        except OSError:
            self.sock.close()
            raise

    def send(self, framed: bytes, end: bool = False) -> None:
        self.sock.sendall(b"".join(h2.chunk_data_frames(1, framed, end)))

    def recv_message(self) -> bytes | None:
        """The next response message; None once the stream has ended
        without one."""
        while (msg := h2.pop_grpc_message(self.resp)) is None:
            if self.ended:
                return None
            self._pump()
        return msg[1]

    def finish(self) -> dict[str, str]:
        """Read to the end of the response stream; -> the trailers."""
        while not self.ended:
            self._pump()
        return self.trailers

    def raise_for_status(self) -> None:
        status = int(self.trailers.get("grpc-status", "2"))
        if status != 0:
            pb = self.trailers.get("grpc-retry-pushback-ms")
            raise GrpcCallError(status, self.trailers.get("grpc-message", ""),
                                int(pb) if pb is not None else None)

    def _pump(self) -> None:
        kind, _sid, val, end = self.reader.next_event()
        if kind == h2.HEADERS:
            (self.trailers if end or "grpc-status" in val
             else self.resp_headers).update(val)
        elif kind == h2.DATA:
            self.resp += val
        else:
            name = "RST_STREAM" if kind == h2.RST_STREAM else "GOAWAY"
            raise h2.H2Error(f"server sent {name}, error code {val}")
        self.ended = end


def grpc_call(host: str, port: int, path: str, message: bytes, *,
              token: str | None = None, compress: bool | str = False,
              metadata: dict[str, str] | None = None,
              timeout_s: float = 10.0) -> bytes:
    """One unary gRPC call over a fresh HTTP/2 connection; returns the
    response message bytes or raises :class:`GrpcCallError`."""
    body = message
    extra = []
    if compress:
        from ..sources.compression import GRPC_CODINGS, encode_body
        try:
            coding, body = encode_body(compress, body, GRPC_CODINGS)
        except ValueError as e:
            raise ValueError(f"unsupported grpc compression: "
                             f"{compress}") from e
        extra.append(("grpc-encoding", coding))
    if metadata:
        # custom call metadata (lower-cased per HTTP/2), e.g. the
        # identity headers a pluggable authenticator consumes
        extra.extend((k.lower(), v) for k, v in metadata.items())
    call = ClientStream(host, port, path, timeout_s, token, extra)
    with call.sock:
        call.send(h2.grpc_frame(body, compressed=bool(compress)), end=True)
        call.finish()
        call.raise_for_status()
        msgs = h2.parse_grpc_frames(call.resp)
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
    from ..sources.otlp_pb import _SCHEMAS
    from .http_exporter import _push_stage
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
    cfg = retry_config or RetryConfig()
    from ..sources.auth import resolve_client_authenticator
    auth = resolve_client_authenticator(authenticator)

    def make_push():
        return lambda body: _call_with_retry_mapping(
            host, port, path, body, token, compress, cfg.attempt_timeout_s,
            auth)

    return _push_stage(df, endpoint, signal, max_rows_per_request, cfg,
                       make_push)


def export_grpc_now(df: DataFrame, endpoint: str, signal: str = "traces",
                    **kw) -> dict:
    """Run the export eagerly; returns audit totals."""
    from .http_exporter import _audit_totals
    return _audit_totals(export_grpc(df, endpoint, signal, **kw))


class ArrowStreamClient(ClientStream):
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
        super().__init__(host, port, path or self.MIXED_PATH, timeout_s,
                         token)

    def send_batch(self, batch_id: int,
                   payloads: list[tuple[str, int, bytes]],
                   headers: bytes = b"") -> dict:
        from ..sources.arrow_service import decode_status, encode_batch
        self.send(h2.grpc_frame(encode_batch(batch_id, payloads, headers)))
        status_msg = self.recv_message()
        if status_msg is None:
            raise GrpcCallError(
                int(self.trailers.get("grpc-status", "2")),
                self.trailers.get("grpc-message", "stream ended before ack"))
        return decode_status(status_msg)

    def close(self) -> dict[str, str]:
        """Half-close the request direction; drain until trailers."""
        self.send(b"", end=True)
        self.finish()
        self.sock.close()
        return self.trailers


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

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                                   StringType, StructField, StructType)

    u = urllib.parse.urlparse(endpoint)
    host, port = u.hostname, u.port
    out_schema = StructType([
        StructField("endpoint", StringType()),
        StructField("rows_sent", LongType()),
        StructField("n_batches", IntegerType()),
        StructField("all_acked", BooleanType())])
    result_schema = to_arrow_schema(out_schema)

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

    return df.mapInArrow(send_partition, out_schema)
