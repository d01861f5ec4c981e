"""Every gRPC socket and every HTTP/2 frame read stay in ``sources/h2.py``.

The helpers set ``TCP_NODELAY`` on each connected socket.  An endpoint
that opened its own socket would bring back Nagle's algorithm, and with
it a wait of about 40 ms for the peer's delayed ACK on every small
reply.  Frames are read and dispatched only by ``h2.ConnectionReader``:
a second frame loop would drift from it, as the three earlier copies
did on CONTINUATION after END_STREAM (RFC 7540 §6.2).
"""

from __future__ import annotations

import re
import socket
from pathlib import Path

from otel_arrow_collector_spark.sources import h2

REPO = Path(__file__).resolve().parent.parent
ALLOWED = {"otel_arrow_collector_spark/sources/h2.py"}
RAW_SOCKET = re.compile(
    r"socket\.create_connection\(|socket\.create_server\(|\.accept\(\)")
FRAME_READ = re.compile(r"recv_frame\(")


def _hits_outside_h2(pattern: re.Pattern) -> list[str]:
    top = REPO / "otel_arrow_collector_spark"
    return [
        f"{path.relative_to(REPO)}:{no}: {line.strip()}"
        for path in sorted(top.rglob("*.py"))
        if str(path.relative_to(REPO)) not in ALLOWED
        for no, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)]


def test_no_raw_sockets_outside_h2():
    hits = _hits_outside_h2(RAW_SOCKET)
    assert not hits, "\n".join(hits)


def test_no_frame_reads_outside_h2():
    hits = _hits_outside_h2(FRAME_READ)
    assert not hits, "\n".join(hits)


def test_h2_helpers_set_nodelay():
    def nodelay(sock):
        return sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)

    with h2.listen("127.0.0.1", 0) as srv:
        with h2.connect("127.0.0.1", srv.getsockname()[1], 5) as cli, \
                h2.accept(srv) as conn:
            assert nodelay(cli) and nodelay(conn)
