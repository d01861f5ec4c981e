"""Sessionization twin: fragments of one session that arrive in
different micro-batches (or across a restart) coalesce into one
session.  Batch equivalence with q80 under shuffled arrival and the
30-minute boundary run through the harness (``tests/stream_twins.py``)."""

from __future__ import annotations

from tests import stream_twins as st

MINUTE_US = 60_000_000
#: a flush sentinel far past every session end
FLUSH = [(999, 20 * st.DAY_US)]


def test_cross_batch_session_fragments_merge(spark):
    """Two fragments of ONE session arriving in different micro-batches
    (later fragment first) coalesce in the session-window state store
    and emit exactly one session row."""
    got = st.drain(spark, st.TWINS["sessions"], [
        [(7, 10 * MINUTE_US), (7, 11 * MINUTE_US)],
        [(7, 0), (7, MINUTE_US)], FLUSH])
    assert got.final == {(7, 0): (4, 660)}


def test_session_state_survives_restart(spark):
    """The session-window state store resumes from the checkpoint: a
    fragment arriving in a SECOND run merges into the session opened in
    the first run, and the session emits once, after the flush."""
    first, second = st.run_legs(spark, st.TWINS["sessions"], [
        [[(5, 0), (5, MINUTE_US)]], [[(5, 2 * MINUTE_US)], FLUSH]])
    assert first.final == {}                              # still open
    assert second.final == {(5, 0): (3, 120)}
