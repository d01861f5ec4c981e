"""Streaks: the longest-run kernel, and the restart of the twin.  The
twin's batch equivalence (splits, out-of-order arrival, re-delivery)
runs through the harness (``tests/stream_twins.py``)."""

from __future__ import annotations

from otel_arrow_collector_spark.streaming.streaks import _longest_run
from tests import stream_twins as st


def test_restart_from_checkpoint_resumes_state(spark):
    """Three of seven files, stop, then the other four on the SAME
    checkpoint: the resumed run converges to the full answer."""
    st.assert_twin(spark, "streaks", "restart")


def test_longest_run_micro():
    assert _longest_run([]) == 0
    assert _longest_run([5]) == 1
    assert _longest_run([1, 2, 3, 7, 8, 10]) == 3
    assert _longest_run([1, 2, 4, 5, 6, 9]) == 3
