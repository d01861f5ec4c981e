"""Streaming HyperLogLog — the stateful twin of the batch sketch in
``operators/sketches.py``.

The 256-register HLL state is Spark's own update-mode streaming
aggregation: the batch operator's register aggregate (``MAX(rho)`` per
bucket) run on the stream, with the register vector kept in the state
store.  The merge rule is elementwise MAX, so after batch k the
registers are EXACTLY the batch operator's registers over the
concatenation of batches 1..k (mergeability; pinned by the
batch-equivalence test).  Each batch emits the registers it changed
(update mode); the per-bucket MAX over every emission is the sketch.
State size is constant (m registers total) no matter how many rows or
batches flow through — the whole point of running HLL on an unbounded
stream.  Register MAX is idempotent, so re-delivery cannot skew it.

Reference analogue: arrival-order stateful processing (SURVEY §2.9);
the distinct-count itself is an engine-added scale operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.sketches import HLL_M, _hll_register_agg


def hll_stream(events: DataFrame, key_col: str) -> DataFrame:
    """Streaming HLL registers: update-mode (bucket, max_rho) rows,
    derived exactly as in the batch operator."""
    return _hll_register_agg(events, key_col)


def hll_estimate_from_registers(regs: dict[int, int],
                                m: int = HLL_M) -> int:
    """Driver-side integer estimate from collected registers (same
    scaled-integer arithmetic as the batch query)."""
    from ..operators.sketches import (HLL_ALPHA_DEN, HLL_ALPHA_NUM,
                                      HLL_RHO_CAP)
    s = sum(1 << (HLL_RHO_CAP - regs.get(b, 0)) for b in range(m))
    return (HLL_ALPHA_NUM * m * m * (1 << HLL_RHO_CAP)) // (
        HLL_ALPHA_DEN * s)
