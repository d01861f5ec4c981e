"""Streaming MV-maintenance twin of q89: per-batch OLD+DELTA monoid
merge in a foreachBatch sink, bit-equal to a from-scratch recompute
after every batch, transactional (idempotent) per batch id."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from otel_arrow_collector_spark.sources.tables import load_table
from otel_arrow_collector_spark.streaming.mv_merge import (
    MVMaintainer, delta_partials, merge_partials)

SF = "/root/testdata/sf0.001"
COLS = ["l_orderkey", "l_returnflag", "l_linestatus",
        "l_extendedprice", "l_quantity"]
N_CHUNKS = 4


def _full_recompute(rows_df):
    """q89's full_agg over an arbitrary delivered-row set — the truth
    the maintained view must bit-match."""
    return delta_partials(rows_df)


def _as_tuples(df):
    return sorted((r.l_returnflag, r.l_linestatus, r.cnt, r.sum_cents,
                   r.min_qty, r.max_qty) for r in df.collect())


def _write_feed(spark, feed_dir):
    li = load_table(spark, SF, "lineitem").select(*COLS)
    for c in range(N_CHUNKS):
        (li.filter(F.col("l_orderkey") % N_CHUNKS == c)
         .coalesce(1).write.mode("append").parquet(feed_dir))
    return li


@pytest.mark.slow
def test_mv_stream_is_bit_equal_per_batch_and_idempotent(spark, tmp_path):
    feed = str(tmp_path / "feed")
    li = _write_feed(spark, feed)
    store = str(tmp_path / "store")
    m = MVMaintainer(spark, store)

    delivered: list = []            # rows per batch id, in commit order
    def sink(batch_df, batch_id):
        delivered.append((int(batch_id),
                          batch_df.select(*COLS).collect()))
        m.merge_batch(batch_df, int(batch_id))

    schema = li.schema
    deltas = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(feed))
    q = (deltas.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("update")
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(240), "stream did not terminate in 240s"
    finally:
        q.stop()

    ids = m.committed_ids()
    assert len(ids) == N_CHUNKS == len(delivered)

    # 1) per-batch audit: every committed version bit-equals the q89
    #    recompute over everything delivered up to that batch
    acc: list = []
    for bid, rows in sorted(delivered):
        acc.extend(rows)
        expect = _full_recompute(
            spark.createDataFrame(acc, li.schema))
        assert _as_tuples(m.view_at(bid)) == _as_tuples(expect), \
            f"view v{bid} diverged from recompute"

    # 2) end state == full-corpus recompute (the q89 merge_exact flag,
    #    stream form)
    assert _as_tuples(m.current()) == _as_tuples(_full_recompute(li))

    # 3) at-least-once replay: redelivering an already-committed batch
    #    id is a no-op even with different (poisoned) content
    before = _as_tuples(m.current())
    poison = spark.createDataFrame(
        [(1, "X", "X", 1.0, 1.0)], li.schema)
    m.merge_batch(poison, ids[-1])
    assert _as_tuples(m.current()) == before
    assert m.committed_ids() == ids

    # 4) monoid identity: an EMPTY delta commits a new version whose
    #    content equals the previous one
    m.merge_batch(spark.createDataFrame([], li.schema), ids[-1] + 1)
    assert _as_tuples(m.current()) == before
    assert m.committed_ids() == ids + [ids[-1] + 1]


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
