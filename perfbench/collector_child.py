"""One live OTLP/gRPC receiver in its own process, for otlp-ingest.

    python3 perfbench/collector_child.py SPOOL_DIR TRACE(0|1)

Prints ``{"port": N}`` once listening, then serves and answers stdin:
``snap`` prints the receiver's counters (and timers) as one JSON line;
any other line (or end of input) stops the receiver, prints them once
more and exits.
With TRACE=1 it also times ``otlp_pb.decode_request`` and
``ArrowStreamState.consume`` (total seconds and calls).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))


def _timed(owner, attr: str, acc: dict, lock: threading.Lock) -> None:
    orig = getattr(owner, attr)

    def wrapper(*args, **kwargs):
        t = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t
            with lock:
                acc[attr + "_s"] = acc.get(attr + "_s", 0.0) + dt
                acc[attr + "_n"] = acc.get(attr + "_n", 0) + 1
    setattr(owner, attr, wrapper)


def main() -> int:
    spool, traced = sys.argv[1], sys.argv[2] == "1"
    from otel_arrow_collector_spark.sources import arrow_service, otlp_pb
    from otel_arrow_collector_spark.sources.grpc_receiver import \
        OtlpGrpcReceiver
    timers: dict = {}
    if traced:
        lock = threading.Lock()
        _timed(otlp_pb, "decode_request", timers, lock)
        _timed(arrow_service.ArrowStreamState, "consume", timers, lock)
    rcv = OtlpGrpcReceiver(spool, max_pending_files=1_000_000)
    _, port = rcv.start()
    print(json.dumps({"port": port}), flush=True)

    def report():
        # dict() copies in one step, so serving threads cannot change
        # the dicts while they are written out
        print(json.dumps({"counters": dict(rcv.counters),
                          "timers": dict(timers)}), flush=True)

    for line in sys.stdin:
        if line.strip() != "snap":
            break
        report()
    rcv.stop()
    report()
    return 0


if __name__ == "__main__":
    sys.exit(main())
