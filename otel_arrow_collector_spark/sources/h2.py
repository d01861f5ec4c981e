"""Minimal HTTP/2 (RFC 7540) framing — just enough to carry gRPC.

The reference's OTLP/gRPC receiver and exporter ride on grpc-go's HTTP/2
stack (receiver/otlpreceiver/otlp.go:93-110 registers the three Export
services).  This container has no grpcio, so the live gRPC pair is built
on the standard library: this module speaks the wire format, and the
repo's RFC 7541 codec (``sources/hpack.py``) compresses the header
blocks.  Only the server/client feature set gRPC unary + client-streaming
calls need is implemented; everything else (server push, frames over
16384 bytes) is rejected loudly, and frame types RFC 7540 does not
define are ignored, as it requires.

Frame layout (RFC 7540 §4.1): 24-bit length, 8-bit type, 8-bit flags,
31-bit stream id, payload.

:class:`ConnectionReader` is the one place frames are read and
dispatched.  It answers the connection-level frames itself (SETTINGS
and PING acks; WINDOW_UPDATE, PRIORITY and unknown frame types
ignored), assembles header blocks across CONTINUATION frames with one
HPACK decoder per connection, and hands back stream events only.  The
receiver (``sources/grpc_receiver.py``) and the client stream that
``grpc_call`` and ``ArrowStreamClient`` share
(``exporters/grpc_exporter.py``) keep only their gRPC logic on top of
it; :func:`pop_grpc_message` is their one gRPC message de-framer.

Every gRPC socket, client or server side, comes from :func:`connect`,
:func:`listen` and :func:`accept` here, and every connected one has
``TCP_NODELAY`` set, as Go's ``net`` package does for each ``TCPConn``.
A gRPC reply is a few small frames, and with Nagle's algorithm on, a
small write waits for the peer's delayed ACK: about 40 ms per reply.
"""

from __future__ import annotations

import socket
import struct

from .hpack import HpackDecoder, HpackError

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"

# frame types (§6)
DATA = 0x0
HEADERS = 0x1
PRIORITY = 0x2
RST_STREAM = 0x3
SETTINGS = 0x4
PUSH_PROMISE = 0x5
PING = 0x6
GOAWAY = 0x7
WINDOW_UPDATE = 0x8
CONTINUATION = 0x9

# flags
FLAG_END_STREAM = 0x1      # DATA / HEADERS
FLAG_ACK = 0x1             # SETTINGS / PING
FLAG_END_HEADERS = 0x4
FLAG_PADDED = 0x8
FLAG_PRIORITY = 0x20

# settings ids (§6.5.2)
SETTINGS_HEADER_TABLE_SIZE = 0x1
SETTINGS_MAX_CONCURRENT_STREAMS = 0x3
SETTINGS_INITIAL_WINDOW_SIZE = 0x4
SETTINGS_MAX_FRAME_SIZE = 0x5

DEFAULT_MAX_FRAME = 16_384


class H2Error(ConnectionError):
    pass


class H2Closed(H2Error):
    """Peer closed cleanly on a frame boundary (normal teardown)."""


def _nodelay(sock: socket.socket) -> socket.socket:
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    return sock


def connect(host: str, port: int, timeout_s: float) -> socket.socket:
    """A client connection with ``TCP_NODELAY`` set."""
    return _nodelay(socket.create_connection((host, port),
                                             timeout=timeout_s))


def listen(host: str, port: int) -> socket.socket:
    """A listening socket; :func:`accept` hands out its connections."""
    return socket.create_server((host, port))


def accept(srv: socket.socket) -> socket.socket:
    """The next connection on ``srv``, with ``TCP_NODELAY`` set."""
    return _nodelay(srv.accept()[0])


def pack_frame(ftype: int, flags: int, stream_id: int,
               payload: bytes = b"") -> bytes:
    if len(payload) >= 1 << 24:
        raise H2Error(f"frame too large: {len(payload)}")
    return (struct.pack(">I", len(payload))[1:]
            + bytes((ftype, flags))
            + struct.pack(">I", stream_id & 0x7FFFFFFF)
            + payload)


def settings_payload(pairs: dict[int, int]) -> bytes:
    return b"".join(struct.pack(">HI", k, v) for k, v in pairs.items())


def parse_settings(payload: bytes) -> dict[int, int]:
    if len(payload) % 6:
        raise H2Error("SETTINGS payload not a multiple of 6")
    return {k: v for k, v in struct.iter_unpack(">HI", payload)}


def recv_exact(sock, n: int, at_boundary: bool = False) -> bytes:
    """Read exactly n bytes or raise (peer closed mid-frame).  With
    ``at_boundary``, EOF before the first byte raises :class:`H2Closed`
    (clean teardown between frames) instead of a hard error."""
    buf = bytearray()
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            if at_boundary and not buf:
                raise H2Closed("connection closed on frame boundary")
            raise H2Error(f"connection closed ({len(buf)}/{n} bytes)")
        buf += chunk
    return bytes(buf)


def recv_frame(sock) -> tuple[int, int, int, bytes]:
    """-> (type, flags, stream_id, payload).  A frame longer than
    :data:`DEFAULT_MAX_FRAME`, the SETTINGS_MAX_FRAME_SIZE every endpoint
    here advertises, is a FRAME_SIZE_ERROR (§4.2), raised before its
    payload is read."""
    hdr = recv_exact(sock, 9, at_boundary=True)
    length = int.from_bytes(hdr[:3], "big")
    if length > DEFAULT_MAX_FRAME:
        raise H2Error(f"FRAME_SIZE_ERROR: {length}-byte frame exceeds "
                      f"SETTINGS_MAX_FRAME_SIZE {DEFAULT_MAX_FRAME}")
    ftype, flags = hdr[3], hdr[4]
    stream_id = int.from_bytes(hdr[5:9], "big") & 0x7FFFFFFF
    payload = recv_exact(sock, length) if length else b""
    return ftype, flags, stream_id, payload


def strip_padding(flags: int, payload: bytes) -> bytes:
    """Remove DATA/HEADERS padding (§6.1, §6.2)."""
    if flags & FLAG_PADDED:
        if not payload or payload[0] >= len(payload):
            raise H2Error("padding exceeds payload")
        payload = payload[1:len(payload) - payload[0]]
    return payload


class ConnectionReader:
    """Reads one connection's frames and returns its stream events.

    :meth:`next_event` answers SETTINGS (validated, acked) and PING
    (acked with its payload), skips WINDOW_UPDATE, PRIORITY and frame
    types it does not know (§4.1, §5.5), and returns one of

    - ``(HEADERS, sid, headers_dict, end_stream)`` once a header block
      is complete: padding and priority fields stripped, CONTINUATION
      fragments joined, the HEADERS frame's END_STREAM carried to the
      END_HEADERS frame (§6.2);
    - ``(DATA, sid, unpadded_bytes, end_stream)``;
    - ``(RST_STREAM, sid, error_code, True)``;
    - ``(GOAWAY, last_sid, error_code, True)``.

    Any frame but the block's own CONTINUATION inside an open header
    block (§6.10), and a block HPACK cannot decode (§4.3), are
    connection errors, raised as :class:`H2Error`.
    """

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self._dec = HpackDecoder()

    def next_event(self) -> tuple[int, int, object, bool]:
        block: bytes | None = None
        block_sid, end = 0, False
        while True:
            ftype, flags, sid, payload = recv_frame(self.sock)
            if block is not None and (ftype != CONTINUATION
                                      or sid != block_sid):
                raise H2Error(f"frame type {ftype} inside a header block")
            if ftype == DATA:
                return (DATA, sid, strip_padding(flags, payload),
                        bool(flags & FLAG_END_STREAM))
            if ftype == HEADERS:
                frag = strip_padding(flags, payload)
                block = frag[5:] if flags & FLAG_PRIORITY else frag
                block_sid, end = sid, bool(flags & FLAG_END_STREAM)
            elif ftype == CONTINUATION:
                if block is None:
                    raise H2Error("CONTINUATION outside a header block")
                block += payload
            elif ftype == SETTINGS:
                if not flags & FLAG_ACK:
                    parse_settings(payload)            # validate
                    self.sock.sendall(pack_frame(SETTINGS, FLAG_ACK, 0))
            elif ftype == PING:
                if not flags & FLAG_ACK:
                    self.sock.sendall(pack_frame(PING, FLAG_ACK, 0,
                                                 payload))
            elif ftype == RST_STREAM:
                return RST_STREAM, sid, int.from_bytes(payload, "big"), True
            elif ftype == GOAWAY:
                return (GOAWAY, int.from_bytes(payload[:4], "big")
                        & 0x7FFFFFFF, int.from_bytes(payload[4:8], "big"),
                        True)
            elif ftype == PUSH_PROMISE:     # push is never enabled
                raise H2Error("unexpected PUSH_PROMISE")
            if block is not None and flags & FLAG_END_HEADERS:
                try:
                    headers = dict(self._dec.decode(block))
                except HpackError as e:   # COMPRESSION_ERROR (§4.3)
                    raise H2Error(f"bad header block: {e}") from e
                return HEADERS, block_sid, headers, end


def grpc_frame(message: bytes, compressed: bool = False) -> bytes:
    """gRPC length-prefixed message (gRPC-over-HTTP2 spec §Message)."""
    return bytes((1 if compressed else 0,)) + struct.pack(
        ">I", len(message)) + message


def pop_grpc_message(buf: bytearray, cap: int | None = None
                     ) -> tuple[bool, bytes] | None:
    """Remove one complete length-prefixed message from the front of
    ``buf``: -> (compressed, message), or None while it is incomplete.
    A declared length over ``cap`` raises before the body arrives."""
    if len(buf) < 5:
        return None
    ln = int.from_bytes(buf[1:5], "big")
    if cap is not None and ln > cap:
        raise H2Error(f"gRPC message of {ln} bytes exceeds size cap")
    if len(buf) < 5 + ln:
        return None
    msg = (buf[0] == 1, bytes(buf[5:5 + ln]))
    del buf[:5 + ln]
    return msg


def parse_grpc_frames(buf: bytes) -> list[tuple[bool, bytes]]:
    """-> [(compressed, message)] — raises on truncation."""
    buf, out = bytearray(buf), []
    while (msg := pop_grpc_message(buf)) is not None:
        out.append(msg)
    if buf:
        raise H2Error("truncated gRPC message")
    return out


def chunk_data_frames(stream_id: int, body: bytes, end_stream: bool,
                      max_frame: int = DEFAULT_MAX_FRAME) -> list[bytes]:
    """Split a body into DATA frames <= max_frame, flagging the last."""
    frames = []
    if not body:
        return [pack_frame(DATA, FLAG_END_STREAM if end_stream else 0,
                           stream_id)]
    for i in range(0, len(body), max_frame):
        chunk = body[i:i + max_frame]
        last = i + max_frame >= len(body)
        frames.append(pack_frame(
            DATA, FLAG_END_STREAM if (last and end_stream) else 0,
            stream_id, chunk))
    return frames
