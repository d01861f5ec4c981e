"""Interval union: the island merge, and the twin's island state cap
(unmergeable keys are refused loudly).  Batch equivalence under splits,
shuffled arrival, re-delivery and restart runs through the harness
(``tests/stream_twins.py``)."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException

from otel_arrow_collector_spark.streaming.interval_union import (
    LEASE_US, _merge, interval_union_stream)
from tests import stream_twins as st


def _capped():
    return replace(st.TWINS["interval_union"],
                   build=lambda s: interval_union_stream(s, max_islands=20))


def test_merge_micro():
    assert _merge([], [(0, 60), (30, 90), (200, 260)]) == \
        [(0, 90), (200, 260)]
    # touching endpoints merge (half-open leases: end == next start)
    assert _merge([(0, 60)], [(60, 120)]) == [(0, 120)]
    # idempotence: re-merging an existing lease is a no-op
    assert _merge([(0, 90), (200, 260)], [(30, 90)]) == \
        [(0, 90), (200, 260)]


def test_island_state_cap(spark):
    """A key emitting only disjoint leases must hit the cap loudly."""
    with pytest.raises(StreamingQueryException,
                       match="IslandStateOverflowError"):
        st.drain(spark, _capped(),
                 [[("t", 1, i * 10 * LEASE_US) for i in range(25)]])


def test_bounded_key_passes_cap(spark):
    """Overlapping leases merge to ONE island and sail under the cap."""
    got = st.drain(spark, _capped(),
                   [[("t", 1, i * (LEASE_US // 2)) for i in range(50)]])
    assert got.final == {("t", 1): (1, 49 * (LEASE_US // 2) + LEASE_US)}
