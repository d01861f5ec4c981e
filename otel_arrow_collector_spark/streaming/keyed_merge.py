"""Keyed commutative merge — the one stateful operator behind the
mergeable streaming twins (HHI, quantiles, changepoint, seasonal,
streaks, theta, weighted sample).

Each twin's state per ``group`` key is a small relation keyed by its
``sub`` columns: a supplier revenue vector, a bin or day count vector,
a distinct day set, a bottom-k hash set.  Such a relation merges by a
commutative, associative rule, so the operator needs no per-twin code
for it.  Every micro-batch concatenates the stored relation with the
batch's rows, re-aggregates by ``sub`` (``sum``, ``min`` or ``max`` per
value column, or plain distinct rows when there is no value column),
keeps the ``keep`` smallest ``sub`` rows when asked, stores the result
and emits ``finalize(key, merged)``.  All of it is pandas column work;
no row is folded in Python.

Because the merge commutes, the state after any split of the input
into batches, in any arrival order, is the aggregate over all rows
seen so far, and the final emission equals the twin's batch query
(each twin pins this in its own tests; ``tests/test_keyed_merge.py``
pins it for the operator without Spark).  ``sum`` merges fail loudly
with ``OverflowError`` instead of wrapping past the long range.

Delivery contract: ``sum`` merges count every delivered row, so they
need the checkpointed exactly-once source; distinct, ``min`` and
``max`` merges are also idempotent under re-delivery.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

#: value-column merge rules
MERGES = ("sum", "min", "max")


def merge_frames(frames: Sequence[pd.DataFrame], sub: Sequence[str],
                 merge: dict[str, str] | None = None,
                 keep: int | None = None) -> pd.DataFrame:
    """One merge step: the aggregate of ``frames`` by ``sub``, sorted by
    ``sub``, cut to the ``keep`` smallest rows when ``keep`` is set."""
    sub = list(sub)
    rows = pd.concat(frames, ignore_index=True)
    if merge:
        merged = rows.groupby(sub, as_index=False, sort=True).agg(merge)
        sums = [c for c, how in merge.items() if how == "sum"]
        if sums:
            # int64 sums wrap silently; a float sum of the same rows is
            # off by far less than the 2**64 a wrap moves the result
            approx = (rows[sums].astype(float).groupby(
                [rows[c] for c in sub], sort=True).sum())
            if (np.abs(approx.to_numpy() - merged[sums].to_numpy(float))
                    >= 2.0 ** 63).any():
                raise OverflowError(
                    f"keyed merge: sum of {sums} leaves the long range")
    else:
        merged = rows.drop_duplicates().sort_values(sub, ignore_index=True)
    return merged if keep is None else merged.head(keep)


def merge_state_fn(sub: Sequence[str], merge: dict[str, str] | None,
                   finalize: Callable[[tuple, pd.DataFrame], pd.DataFrame],
                   keep: int | None = None):
    """The ``applyInPandasWithState`` function: the state is one long
    array per ``sub`` and value column."""
    cols = list(sub) + list(merge or {})

    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        frames = [pdf[cols] for pdf in pdfs]
        if state.exists:
            frames.append(pd.DataFrame(dict(zip(cols, state.get)),
                                       columns=cols, dtype="int64"))
        merged = merge_frames(frames, sub, merge, keep)
        state.update(tuple(merged[c].tolist() for c in cols))
        yield finalize(key, merged)

    return update


def keyed_merge_stream(df: DataFrame, group: Sequence[str],
                       sub: Sequence[str], merge: dict[str, str] | None,
                       finalize: Callable[[tuple, pd.DataFrame],
                                          pd.DataFrame],
                       out_schema: StructType,
                       keep: int | None = None) -> DataFrame:
    """Update-mode stream of ``finalize(key, merged)`` per touched
    ``group`` key.  ``sub`` and the ``merge`` value columns must be
    long; ``merge`` maps each value column to one of :data:`MERGES`, or
    is ``None`` to keep distinct ``sub`` rows."""
    if not set((merge or {}).values()) <= set(MERGES):
        raise ValueError(f"keyed merge: unknown merge rule in {merge}")
    cols = list(sub) + list(merge or {})
    state_schema = StructType(
        [StructField(c, ArrayType(LongType())) for c in cols])
    return (df.select(*group, *cols)
            .groupBy(*group)
            .applyInPandasWithState(
                merge_state_fn(sub, merge, finalize, keep), out_schema,
                state_schema, "update", GroupStateTimeout.NoTimeout))
