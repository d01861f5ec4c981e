"""OTLP/HTTP push exporter — the live egress twin of
``sources/http_receiver.py`` (exporter/otlphttpexporter/otlp.go:150-299:
POST per request, status->retry mapping, Retry-After honoring, partial
success accounting).

Spark integration (the 100 TB stance): POSTs happen ON EXECUTORS inside a
``mapInArrow`` stage — each task slices its partition into
``max_rows_per_request`` requests, encodes them with the dependency-free
pb wire codec, and drives its own throttle-aware :class:`RetrySender`
(exporterhelper chain) per request.  Egress parallelism = partition
count; the driver never sees payload bytes, only the per-request result
rows the stage emits (endpoint, rows, attempts, status) — which make the
export auditable with ordinary SQL.

Wire format is protobuf (the reference's primary; the receiver side also
accepts JSON).  Status mapping follows otlphttpexporter/otlp.go:233-299:
2xx success, {429, 502, 503, 504} retryable (429/503 honor Retry-After as
a throttle hint), everything else permanent.
"""

from __future__ import annotations

import http.client
import ssl
import urllib.parse

from pyspark.sql import DataFrame
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

from .retry import (PermanentError, RetryConfig, RetrySender, ThrottleError,
                    TransientError)

_RETRYABLE = {429, 502, 503, 504}


def _parse_retry_after(ra: str) -> float | None:
    """RFC 9110 Retry-After: delta-seconds or an HTTP-date; None if
    neither parses (caller degrades to ordinary transient backoff)."""
    try:
        return max(0.0, float(ra))
    except ValueError:
        pass
    try:
        from email.utils import parsedate_to_datetime
        import datetime as _dt
        when = parsedate_to_datetime(ra)
        if when.tzinfo is None:
            when = when.replace(tzinfo=_dt.timezone.utc)
        now = _dt.datetime.now(_dt.timezone.utc)
        return max(0.0, (when - now).total_seconds())
    except (ValueError, TypeError):
        return None

RESULT_SCHEMA = StructType([
    StructField("endpoint", StringType()),
    StructField("rows_sent", LongType()),
    StructField("n_requests", IntegerType()),
    StructField("n_attempts", IntegerType()),
])


def _push_stage(df: DataFrame, endpoint: str, signal: str,
                max_rows_per_request: int, cfg: RetryConfig,
                make_push) -> DataFrame:
    """The executor stage both unary exporters run.  Each task builds
    its per-request ``push(body)`` with ``make_push()`` (task-side, so
    unpicklable state such as an SSLContext never ships), sends its
    partition's rows ``max_rows_per_request`` at a time, each request
    through a :class:`RetrySender`, and yields one audit row."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..sources.otlp_pb import _SCHEMAS, batch_to_rows, encode_request
    names = _SCHEMAS[signal].names
    audit_schema = to_arrow_schema(RESULT_SCHEMA)

    def send_partition(batches):
        import pyarrow as pa
        push, attempts = make_push(), 0
        rows = [r for batch in batches for r in batch_to_rows(batch, names)]

        def attempt(body: bytes):
            nonlocal attempts
            attempts += 1
            push(body)

        sender = RetrySender(attempt, cfg, signal=signal)
        starts = range(0, len(rows), max_rows_per_request)
        for i in starts:
            chunk = rows[i:i + max_rows_per_request]
            sender.send(encode_request(chunk, signal), count=len(chunk))
        if rows:
            yield pa.RecordBatch.from_pylist(
                [{"endpoint": endpoint, "rows_sent": len(rows),
                  "n_requests": len(starts), "n_attempts": attempts}],
                schema=audit_schema)

    return df.mapInArrow(send_partition, RESULT_SCHEMA)


def _audit_totals(stage: DataFrame) -> dict:
    """Run an export stage eagerly; returns audit totals
    ``{rows_sent, n_requests, n_attempts, n_tasks}``."""
    from pyspark.sql import functions as F
    res = stage.agg(F.sum("rows_sent").alias("rows_sent"),
                    F.sum("n_requests").alias("n_requests"),
                    F.sum("n_attempts").alias("n_attempts"),
                    F.count(F.lit(1)).alias("n_tasks")).first()
    return {k: (0 if res[k] is None else int(res[k]))
            for k in ("rows_sent", "n_requests", "n_attempts", "n_tasks")}


def _post_once(host: str, port: int, path: str, body: bytes,
               token: str | None, compress: bool,
               timeout_s: float, ssl_ctx=None, auth=None) -> None:
    """One POST; raises the retry-chain's typed errors on failure.
    ``auth`` is a ClientAuthenticator, queried per request (client.go
    RoundTripper semantics: credentials may rotate between calls)."""
    headers = {"Content-Type": "application/x-protobuf"}
    if token is not None:
        headers["Authorization"] = f"Bearer {token}"
    if auth is not None:
        headers.update(auth.auth_headers())
    if compress:
        from ..sources.compression import HTTP_CODINGS, encode_body
        try:
            coding, body = encode_body(compress, body, HTTP_CODINGS)
        except ValueError as e:               # misconfiguration: no retry
            raise PermanentError(str(e)) from e
        headers["Content-Encoding"] = coding
    if ssl_ctx is not None:
        conn = http.client.HTTPSConnection(host, port, timeout=timeout_s,
                                           context=ssl_ctx)
    else:
        conn = http.client.HTTPConnection(host, port, timeout=timeout_s)
    try:
        conn.request("POST", path, body, headers)
        resp = conn.getresponse()
        resp.read()
        if 200 <= resp.status < 300:
            return
        if resp.status in _RETRYABLE:
            ra = resp.getheader("Retry-After")
            if resp.status in (429, 503) and ra is not None:
                delay = _parse_retry_after(ra)
                if delay is not None:
                    raise ThrottleError(f"HTTP {resp.status}", delay)
                # unparsable Retry-After degrades to ordinary backoff
                # instead of escaping the typed error chain and failing
                # the whole Spark task
                raise TransientError(
                    f"HTTP {resp.status} (unparsed Retry-After)")
            raise TransientError(f"HTTP {resp.status}")
        raise PermanentError(f"HTTP {resp.status}: non-retryable")
    except ssl.SSLCertVerificationError as e:
        # an untrusted peer cert is a deployment misconfiguration, not a
        # transient fault — retrying cannot heal it (configtls contract)
        raise PermanentError(f"TLS verification failed: {e}") from e
    except (ConnectionError, OSError) as e:   # transport errors retry
        raise TransientError(f"connection failed: {e}") from e
    finally:
        conn.close()


def export_http(df: DataFrame, endpoint: str, signal: str = "traces",
                *, token: str | None = None, authenticator=None,
                compress: bool | str = False,
                max_rows_per_request: int = 8192,
                retry_config: RetryConfig | None = None,
                tls=None) -> DataFrame:
    """Build the export stage: one POST per ``max_rows_per_request`` rows
    per partition against ``endpoint`` + /v1/<signal>.  Lazy — returns the
    per-task result DataFrame; triggering it (count/collect/write) runs
    the export.  Use :func:`export_http_now` for the eager audit totals.

    ``tls`` is a :class:`~otel_arrow_collector_spark.tls.TLSConfig` (file
    paths only, so it pickles into the executor closure; the SSLContext is
    built task-side).  Required for https:// endpoints.
    """
    from ..sources.otlp_pb import _SCHEMAS
    if signal not in _SCHEMAS:
        raise NotImplementedError(
            f"OTLP/HTTP export for signal {signal!r} "
            f"(supported: {sorted(_SCHEMAS)})")
    u = urllib.parse.urlparse(endpoint)
    if u.scheme not in ("http", "https") or u.hostname is None:
        raise ValueError(
            f"endpoint must be http(s)://host:port, got {endpoint!r}")
    if u.scheme == "https" and tls is None:
        from ..tls import TLSConfig
        tls = TLSConfig()                    # system trust roots
    if u.scheme == "http":
        tls = None                           # no TLS over plain http
    host, port = u.hostname, u.port or (443 if u.scheme == "https" else 80)
    path = (u.path.rstrip("/") or "") + f"/v1/{signal}"
    cfg = retry_config or RetryConfig()
    from ..sources.auth import resolve_client_authenticator
    auth = resolve_client_authenticator(authenticator)

    def make_push():
        ssl_ctx = tls.client_context() if tls is not None else None
        return lambda body: _post_once(host, port, path, body, token,
                                       compress, cfg.attempt_timeout_s,
                                       ssl_ctx, auth)

    return _push_stage(df, endpoint, signal, max_rows_per_request, cfg,
                       make_push)


def export_http_now(df: DataFrame, endpoint: str, signal: str = "traces",
                    **kw) -> dict:
    """Run the export eagerly; returns audit totals
    ``{rows_sent, n_requests, n_attempts, n_tasks}``."""
    return _audit_totals(export_http(df, endpoint, signal, **kw))
