"""Tail sampling: the per-trace policy matches q90's expression, and a
late span follows the cached decision exactly once.  Batch equivalence
with q90 under shuffled arrival runs through the harness
(``tests/stream_twins.py``)."""

from __future__ import annotations

import hashlib

import pytest

from otel_arrow_collector_spark.streaming.tailsampling import (
    LATENCY_THRESHOLD_US, decide_policy)
from tests import stream_twins as st


def test_decide_policy_matches_q90_expression():
    # md5 parity with the SQL/batch substring(md5(...), 1, 1) check
    for u, day in [(1, 0), (7, 2), (123, 1)]:
        h = hashlib.md5(f"ts:{u}:{day}".encode()).hexdigest()
        want = "probabilistic" if h[0] in "01" else "drop"
        assert decide_policy(u, day, 0, 0) == want
    assert decide_policy(5, 0, 1, 0) == "error"
    assert decide_policy(5, 0, 0, LATENCY_THRESHOLD_US) == "latency"


@pytest.mark.slow
def test_late_span_follows_cached_decision_exactly_once(spark):
    """groupbytrace decision cache: a span arriving after its trace's
    verdict, in a restarted run, neither re-opens the trace nor
    duplicates the verdict (the spec asserts one emission per trace)."""
    first, second = st.run_legs(spark, st.TWINS["tail_sampling"], [
        [[(1, "error", 1_000_000), (1, "view", 2_000_000)],
         [(999, "view", 20 * st.DAY_US)]],
        [[(1, "view", 3_000_000)], [(999, "view", 40 * st.DAY_US)]]])
    assert first.final == second.final == {(1, 0): ("error", 2)}
