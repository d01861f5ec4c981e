"""Bloom-novelty positions; the twin itself runs through the harness
(``tests/stream_twins.py``: one-sided error, bounded fill, idempotent
re-delivery)."""

from __future__ import annotations

import hashlib

from otel_arrow_collector_spark.streaming.bloom_novelty import (
    BLOOM_NOV_BITS, bloom_positions)


def test_positions_match_digest_slices():
    """The K positions are hex slices [0:5) [5:10) [10:15) of ONE md5
    digest — the widened twin of the batch one-hash construction."""
    tg = "alpha beta gamma"
    h = hashlib.md5(tg.encode()).hexdigest()
    assert bloom_positions(tg) == [int(h[0:5], 16), int(h[5:10], 16),
                                   int(h[10:15], 16)]
    assert all(0 <= p < BLOOM_NOV_BITS for p in bloom_positions(tg))
