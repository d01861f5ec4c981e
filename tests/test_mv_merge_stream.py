"""The MV-maintenance store of q89's streaming twin: the monoid merge
of disjoint keys and crash-before-marker replay.  ``maintain_mv`` itself
(bit-equal to a recompute after every batch, replay-safe per batch id)
runs through the harness (``tests/stream_twins.py``)."""

from __future__ import annotations

import os

from otel_arrow_collector_spark.streaming.mv_merge import (
    MVMaintainer, delta_partials, merge_partials)


def _as_tuples(df):
    return sorted((r.l_returnflag, r.l_linestatus, r.cnt, r.sum_cents,
                   r.min_qty, r.max_qty) for r in df.collect())


def test_merge_partials_handles_disjoint_keys(spark):
    """A key present in only one side passes through unchanged (the
    unionByName missing-key contract q89's parity split never hits)."""
    a = spark.createDataFrame(
        [("A", "F", 2, 100, 1, 5)],
        "l_returnflag string, l_linestatus string, cnt long, "
        "sum_cents long, min_qty long, max_qty long")
    b = spark.createDataFrame(
        [("N", "O", 3, 50, 2, 2), ("A", "F", 1, 10, 0, 9)], a.schema)
    got = _as_tuples(merge_partials(a, b))
    assert got == [("A", "F", 3, 110, 0, 9), ("N", "O", 3, 50, 2, 2)]


def test_crash_before_marker_is_replay_safe(spark, tmp_path):
    """Write-then-mark: a version directory WITHOUT its marker (crash
    between parquet write and commit point) is invisible to current()
    and is overwritten cleanly when the batch replays."""
    store = str(tmp_path / "store2")
    m = MVMaintainer(spark, store)
    d = spark.createDataFrame(
        [(1, "A", "F", 2.0, 3.0)],
        "l_orderkey long, l_returnflag string, l_linestatus string, "
        "l_extendedprice double, l_quantity double")
    # simulate the crash: version parquet exists, marker does not
    delta_partials(d).coalesce(1).write.parquet(
        os.path.join(store, "v0"))
    assert m.committed_ids() == []
    assert _as_tuples(m.current()) == []
    m.merge_batch(d, 0)                    # replay commits it
    assert m.committed_ids() == [0]
    assert _as_tuples(m.view_at(0)) == [("A", "F", 1, 200, 3, 3)]
