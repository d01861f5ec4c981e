"""Streaming Herfindahl-Hirschman concentration monitor — the stateful
twin of ``operators/relational.q114_herfindahl`` (micro-batch = revenue
deltas, per-nation supplier revenue vector = keyed state).

State per nation is the (suppkey, cents-sum) vector, a ``sum`` merge
on the keyed-merge operator (``keyed_merge``).  It is DIMENSION-bounded
(suppliers are a dimension table; the state never grows with fact
volume, the q114 docstring's own magnitude argument), the
changepoint/seasonal state class one step up (bounded by a dimension
instead of the calendar).  Each batch's (suppkey, cents) rows ADD into
the vector and the nation re-emits its CURRENT (n_suppliers,
total_cents, hhi_bp) — integer arithmetic identical to the batch query
(floor basis-point shares, floored sum-of-squares), so the final
emission is EXACTLY the batch answer, not an estimate: sums are
commutative, hence arrival-order and batch-split invariance hold with
equality (pytest-pinned), unlike the one-sided Bloom twin.

Delivery contract: ADDITIVE deltas — re-delivering a fact row would
double-count, exactly as it would in the batch SUM.  The operator
therefore sits behind a checkpointed exactly-once source (the
ewma/slo/bootstrap twins' contract), pinned by the
restart-from-checkpoint test rather than a duplication test.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from .keyed_merge import keyed_merge_stream

OUT_SCHEMA = StructType([
    StructField("nation", LongType()),
    StructField("n_suppliers", LongType()),
    StructField("total_cents", LongType()),
    StructField("hhi_bp", LongType()),
])


def _hhi(key, vec: pd.DataFrame) -> pd.DataFrame:
    """The nation's current row from its (suppkey, cents) vector."""
    cents = vec["cents"].astype(object)     # Python ints: no wrap
    total = cents.sum()
    # identical integer arithmetic to the batch query: floor bp shares,
    # floored sum-of-squares
    hhi = ((10000 * cents // total) ** 2).sum() // 10000 if total else 0
    return pd.DataFrame({"nation": [key[0]],
                         "n_suppliers": [len(vec)],
                         "total_cents": [total],
                         "hhi_bp": [hhi]})


def hhi_stream(revenue: DataFrame) -> DataFrame:
    """Streaming HHI: ``revenue`` (nation, suppkey, cents deltas) ->
    update-mode (nation, n_suppliers, total_cents, hhi_bp), the running
    concentration index per nation."""
    return keyed_merge_stream(revenue, ["nation"], ["suppkey"],
                              {"cents": "sum"}, _hhi, OUT_SCHEMA)
