"""Streaming theta-sketch twin: batch-equivalence under shuffled,
duplicated arrival and restart-from-checkpoint."""

from __future__ import annotations

import hashlib
import random
import tempfile

import pytest
from pyspark.sql.types import StringType, StructField, StructType

from otel_arrow_collector_spark.operators.sketches import (THETA_K,
                                                           THETA_RANGE)
from otel_arrow_collector_spark.streaming.theta import theta_stream

SCHEMA = StructType([StructField("event_type", StringType()),
                     StructField("user_id", StringType())])


def _hash48(u: str) -> int:
    return int(hashlib.md5(u.encode()).hexdigest()[:12], 16)


def _mk_rows():
    """3 set sizes bracketing THETA_K: sub-K ('rare', exact regime),
    ~2K ('mid'), and 8K ('big'); every (type, user) duplicated 1-3x
    and shuffled — re-delivery must not skew the sketch."""
    rng = random.Random(48)
    rows = []
    for et, n in (("rare", THETA_K - 7), ("mid", 2 * THETA_K),
                  ("big", 8 * THETA_K)):
        for i in range(n):
            uid = f"{et}-user-{i}"
            for _ in range(rng.randrange(1, 4)):
                rows.append((et, uid))
    rng.shuffle(rows)
    return rows


def _batch_truth(rows):
    """The batch operator's kept/theta rules in plain Python off the
    pinned 48-bit md5 (the SQL hash is itself pinned against hashlib
    in test_hll_cms.py)."""
    sets: dict[str, set[str]] = {}
    for et, uid in rows:
        sets.setdefault(et, set()).add(uid)
    out = {}
    for et, users in sets.items():
        hs = sorted(_hash48(u) for u in users)
        kept = hs[:THETA_K]
        n = len(kept)
        if n >= THETA_K:
            th = kept[THETA_K - 1]
            est = (THETA_K - 1) * THETA_RANGE // th
        else:
            th, est = THETA_RANGE, n
        out[et] = (n, th, est)
    return out


def _run(spark, d, ckpt, name):
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (theta_stream(stream)
         .writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    # update mode: the LAST snapshot per set is the current sketch
    snap = {}
    for r in spark.table(name).collect():
        snap[r.event_type] = (r.n_kept, r.th, r.est)
    return snap


def _run_foreach(spark, d, ckpt):
    """foreachBatch capture — the memory sink cannot recover from a
    checkpoint (the slo/sessions twin discipline)."""
    rows: list = []

    def grab(batch_df, _bid):
        rows.extend(batch_df.collect())

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (theta_stream(stream)
         .writeStream.foreachBatch(grab)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    snap = {}
    for r in rows:                    # arrival order: last snapshot wins
        snap[r.event_type] = (r.n_kept, r.th, r.est)
    return snap


def _write_batches(spark, d, rows, n_batches, seed):
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    per = (len(shuffled) + n_batches - 1) // n_batches
    for b in range(n_batches):
        batch = shuffled[b * per:(b + 1) * per]
        if batch:
            (spark.createDataFrame(batch, SCHEMA)
             .coalesce(1).write.mode("append").parquet(d))


@pytest.mark.slow
def test_streaming_theta_matches_batch(spark, tmp_path):
    rows = _mk_rows()
    want = _batch_truth(rows)
    d = tempfile.mkdtemp(prefix="theta_stream_")
    _write_batches(spark, d, rows, n_batches=5, seed=1)
    got = _run(spark, d, str(tmp_path / "ckpt"), "theta_stream_t1")
    assert got == want
    # the regimes really bracket K
    assert got["rare"][0] < THETA_K and got["rare"][1] == THETA_RANGE
    assert got["big"][0] == THETA_K and got["big"][1] < THETA_RANGE


@pytest.mark.slow
def test_restart_from_checkpoint_resumes_sketch(spark, tmp_path):
    """The bottom-K state survives a restart: first half of the corpus
    in run 1, second half in run 2 on the same checkpoint — the final
    snapshot equals the all-at-once batch truth (a discarded hash can
    never re-enter the bottom-K, so truncation loses nothing)."""
    rows = _mk_rows()
    want = _batch_truth(rows)
    half = len(rows) // 2
    d = tempfile.mkdtemp(prefix="theta_restart_")
    ckpt = str(tmp_path / "ckpt2")
    _write_batches(spark, d, rows[:half], n_batches=2, seed=2)
    _run_foreach(spark, d, ckpt)
    _write_batches(spark, d, rows[half:], n_batches=2, seed=3)
    got = _run_foreach(spark, d, ckpt)
    assert got == want
