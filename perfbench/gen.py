"""Seeded inputs: OTLP span payloads for otlp-ingest and the order and
micro-batch splits the other workloads take from ``random.Random(seed)``.

Everything here is a pure function of its seed, so the same seed gives
byte-identical payloads (pinned by ``perfbench/tests``)."""

from __future__ import annotations

import io
import random

_NAMES = ("GET /api/cart", "POST /api/checkout", "db.query", "cache.get",
          "render", "auth.verify", "queue.publish", "GET /healthz")
_HOSTS = tuple(f"host-{i:02d}" for i in range(16))
_SERVICES = ("frontend", "checkout", "catalog", "payments")
_BASE_NS = 1_700_000_000_000_000_000


def span_rows(rng: random.Random, n: int) -> list[dict]:
    """``n`` span rows in the engine's span model (SPAN_SCHEMA), each with
    a fresh random span id."""
    rows = []
    for _ in range(n):
        start = _BASE_NS + rng.randrange(3_600_000_000_000)
        rows.append({
            "trace_id": f"{rng.getrandbits(128):032x}",
            "span_id": f"{rng.getrandbits(64):016x}",
            "parent_span_id": None, "trace_state": "",
            "name": rng.choice(_NAMES), "kind": rng.randrange(1, 6),
            "start_time_unix_nano": start,
            "end_time_unix_nano": start + rng.randrange(10**5, 10**9),
            "attributes": {
                "http.status_code": {"i": rng.choice((200, 200, 200, 404,
                                                      500))},
                "net.peer.name": {"s": rng.choice(_HOSTS)}},
            "dropped_attributes_count": 0, "events": None,
            "dropped_events_count": 0, "links": None,
            "dropped_links_count": 0,
            "status_code": rng.choice((0, 0, 0, 1, 2)), "status_message": "",
            "resource_attributes": {"service.name":
                                    {"s": rng.choice(_SERVICES)}},
            "scope_name": "perfbench", "scope_version": "1",
        })
    return rows


def pb_requests(rng: random.Random, n_requests: int, spans_per_request: int
                ) -> list[tuple[bytes, list[str]]]:
    """Encoded ExportTraceServiceRequest bodies with their span ids."""
    from otel_arrow_collector_spark.sources.otlp_pb import encode_request
    out = []
    for _ in range(n_requests):
        rows = span_rows(rng, spans_per_request)
        out.append((encode_request(rows, "traces"),
                    [r["span_id"] for r in rows]))
    return out


def arrow_fragments(rng: random.Random, n_batches: int,
                    spans_per_batch: int) -> list[tuple[bytes, list[str]]]:
    """One logical Arrow IPC stream of span record batches, cut at batch
    boundaries (the first fragment carries the schema), with span ids."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from otel_arrow_collector_spark.model.telemetry import SPAN_SCHEMA
    schema = to_arrow_schema(SPAN_SCHEMA)
    sink = io.BytesIO()
    writer = pa.ipc.new_stream(sink, schema)
    out = []
    for _ in range(n_batches):
        rows = span_rows(rng, spans_per_batch)
        writer.write_batch(pa.RecordBatch.from_pylist(rows, schema=schema))
        out.append((sink.getvalue(), [r["span_id"] for r in rows]))
        sink.seek(0)
        sink.truncate(0)
    return out


def splits(rng: random.Random, rows: list, parts: int) -> list[list]:
    """Shuffle ``rows`` and cut them into ``parts`` near-equal slices."""
    rows = list(rows)
    rng.shuffle(rows)
    per = -(-len(rows) // parts)
    return [rows[i * per:(i + 1) * per] for i in range(parts)]
