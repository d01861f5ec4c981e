"""Request-body compression encoders shared by the push exporters —
the client half of configcompression (config/configcompression/
compressionType.go): a named coding or bool sugar (True = gzip, the
reference's default), plus the server's response compression.  The
capped decoders are ``http_receiver._BODY_DECODERS``: both receivers
share them through ``http_receiver._decompress_body``, each admitting
only its own set of codings below.
"""

from __future__ import annotations

import gzip
import zlib

#: what confighttp clients may send and the HTTP receiver accepts
#: (compressor.go registry).  NOTE: upstream confighttp clients can also
#: SEND snappy, but the reference SERVER's decoder map
#: (compression.go:83-123) does not accept it — this engine keeps the
#: same asymmetry on the HTTP side and supports snappy only where the
#: reference does (the gRPC registry).
HTTP_CODINGS = frozenset({"gzip", "zstd", "zlib", "deflate"})
#: what configgrpc clients may send and the gRPC receiver accepts
#: (configgrpc.go:384-392:
#: gzip/snappy/zstd; snappy is the FRAMED stream format —
#: go-grpc-compression wraps golang/snappy's buffered writer)
GRPC_CODINGS = frozenset({"gzip", "zstd", "snappy"})


def encode_body(compress, body: bytes,
                allowed: frozenset) -> tuple[str, bytes]:
    """Compress ``body`` with the requested coding (``True`` means
    gzip); returns (coding, compressed).  Unknown/unallowed codings
    raise ValueError — callers map that onto their permanent-error
    type."""
    coding = "gzip" if compress is True else str(compress).lower()
    if coding not in allowed:
        raise ValueError(f"unsupported compression: {coding}")
    if coding == "gzip":
        return coding, gzip.compress(body)
    if coding == "zstd":
        import pyarrow as pa
        return coding, bytes(pa.Codec("zstd").compress(body))
    if coding == "snappy":
        from .snappy import frame_compress
        return coding, frame_compress(body)
    return coding, zlib.compress(body)        # zlib / deflate


def encode_response(accept_encoding: str | None, body: bytes,
                    min_size: int = 256) -> tuple[str | None, bytes]:
    """Server-side response compression — the OTHER half of confighttp
    (compressor.go wraps the ResponseWriter when the request advertises
    a supported coding): pick the FIRST supported coding in the
    client's Accept-Encoding list (gzip or zstd; Prometheus scrapers
    send gzip by default), leave small bodies uncompressed.  Returns
    (coding-or-None, payload).  Tokens carrying ``q=0`` are the client
    EXCLUDING that coding (RFC 9110 §12.4.2) and are skipped."""
    if not accept_encoding or len(body) < min_size:
        return None, body
    for token in accept_encoding.split(","):
        coding, _, params = token.partition(";")
        coding = coding.strip().lower()
        q = 1.0
        for p in params.split(";"):
            k, _, v = p.partition("=")
            if k.strip().lower() == "q":
                try:
                    q = float(v.strip())
                except ValueError:
                    q = 0.0
                break
        if q <= 0.0:
            continue
        if coding == "gzip":
            return "gzip", gzip.compress(body)
        if coding == "zstd":
            import pyarrow as pa
            return "zstd", bytes(pa.Codec("zstd").compress(body))
    return None, body
