"""Streaming bootstrap twin: batch-equivalence (the hash weights are
deterministic, so the final snapshot must EQUAL sample_bootstrap's
output bit-for-bit) and restart-from-checkpoint."""

from __future__ import annotations

import random
import tempfile

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from otel_arrow_collector_spark.streaming.bootstrap import bootstrap_stream

SCHEMA = StructType([StructField("o_orderkey", LongType()),
                     StructField("cents", LongType())])


def _mk_rows():
    rng = random.Random(7)
    return [(k, rng.randrange(100, 900_000)) for k in range(1, 1201)]


def _batch_truth(spark, rows):
    """The batch operator's arithmetic over an in-memory relation (the
    same SQL expressions sample_bootstrap uses, minus the parquet
    load — table shape differs, recipe identical)."""
    from pyspark.sql import functions as F

    from otel_arrow_collector_spark.operators.sampling import (
        BOOTSTRAP_B, _hexint_sql, _poisson1_thresholds)
    ts = _poisson1_thresholds()
    h = _hexint_sql(
        "md5(concat('boot:', CAST(b AS STRING), ':',"
        " CAST(o_orderkey AS STRING)))", 7, "substring")
    w_expr = " + ".join(
        f"(CASE WHEN hv >= {t} THEN 1 ELSE 0 END)" for t in ts)
    df = (spark.createDataFrame(rows, SCHEMA)
          .select("cents", "o_orderkey",
                  F.explode(F.expr(f"sequence(0, {BOOTSTRAP_B - 1})"))
                  .alias("b"))
          .select("cents", "b", F.expr(h).cast("long").alias("hv"))
          .select("cents", "b", F.expr(w_expr).alias("w"))
          .groupBy("b")
          .agg(F.sum("w").cast("long").alias("n_eff"),
               F.sum(F.col("w") * F.col("cents")).alias("tot"))
          .select("b", "n_eff",
                  F.expr("tot div n_eff").cast("long")
                  .alias("mean_cents")))
    return sorted((r.b, r.n_eff, r.mean_cents) for r in df.collect())


def _write_batches(spark, d, rows, n_batches, seed):
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    per = (len(shuffled) + n_batches - 1) // n_batches
    for i in range(n_batches):
        batch = shuffled[i * per:(i + 1) * per]
        if batch:
            (spark.createDataFrame(batch, SCHEMA)
             .coalesce(1).write.mode("append").parquet(d))


def _run_foreach(spark, d, ckpt):
    rows: list = []

    def grab(batch_df, _bid):
        rows.extend(batch_df.collect())

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (bootstrap_stream(stream)
         .writeStream.foreachBatch(grab)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    snap = {}
    for r in rows:                    # arrival order: last snapshot wins
        snap[r.b] = (r.b, r.n_eff, r.mean_cents)
    return sorted(snap.values())


@pytest.mark.slow
def test_streaming_bootstrap_matches_batch(spark, tmp_path):
    rows = _mk_rows()
    want = _batch_truth(spark, rows)
    d = tempfile.mkdtemp(prefix="boot_stream_")
    _write_batches(spark, d, rows, n_batches=5, seed=1)
    got = _run_foreach(spark, d, str(tmp_path / "ckpt"))
    assert got == want


@pytest.mark.slow
def test_restart_from_checkpoint_resumes_sums(spark, tmp_path):
    rows = _mk_rows()
    want = _batch_truth(spark, rows)
    half = len(rows) // 2
    d = tempfile.mkdtemp(prefix="boot_restart_")
    ckpt = str(tmp_path / "ckpt2")
    _write_batches(spark, d, rows[:half], n_batches=2, seed=2)
    _run_foreach(spark, d, ckpt)
    _write_batches(spark, d, rows[half:], n_batches=2, seed=3)
    got = _run_foreach(spark, d, ckpt)
    assert got == want
