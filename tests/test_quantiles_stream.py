"""Streaming histogram quantiles: the final cross-batch snapshot
equals the batch twin exactly (same width_bucket operands both sides),
state merges by addition, rank targets are ceil-exact."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from otel_arrow_collector_spark.streaming.quantiles import (
    _bin_index, _quantiles_from_counts, bin_quantiles_batch,
    bin_quantiles_stream)

SCHEMA = StructType([StructField("grp", LongType()),
                     StructField("v", LongType())])

LO, HI, BINS = 0, 9_999, 64


def _rows():
    # 3 groups with different shapes: uniform, skewed-low, two-modal
    rows = []
    for i in range(600):
        rows.append((0, (i * 17) % 10_000))
        rows.append((1, (i * i) % 700))
        rows.append((2, 500 if i % 3 else 9_500))
    return rows


def test_bin_index_matches_width_bucket(spark):
    import pyspark.sql.functions as F
    vals = [0, 1, 9_999, 5_000, 4_999, 77, 9_998]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = [r[0] - 1 for r in df.select(
        F.width_bucket("v", F.lit(LO), F.lit(HI + 1),
                       F.lit(BINS))).collect()]
    assert got == [_bin_index(v, LO, HI, BINS) for v in vals]


def test_quantiles_from_counts_edges():
    counts = [0] * BINS
    counts[3] = 10
    q = _quantiles_from_counts(counts, (50, 99), LO, HI, BINS)
    # every rank lands in bin 3; its inclusive upper bound
    ub = LO + (4 * (HI + 1 - LO)) // BINS - 1
    assert q == [(50, ub, 10), (99, ub, 10)]


@pytest.mark.slow
def test_streaming_snapshot_equals_batch(spark, tmp_path):
    rows = _rows()
    df = spark.createDataFrame(rows, SCHEMA)
    want = {(r.grp, r.q): (r.value_ub, r.n)
            for r in bin_quantiles_batch(df, LO, HI, BINS).collect()}

    d = tempfile.mkdtemp(prefix="q_stream_")
    per = (len(rows) + 4) // 5
    for b in range(5):
        batch = rows[b * per:(b + 1) * per]
        if batch:
            (spark.createDataFrame(batch, SCHEMA)
             .coalesce(1).write.mode("append").parquet(d))
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (bin_quantiles_stream(stream, LO, HI, BINS)
         .writeStream.format("memory").queryName("q_stream")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_q"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    # update mode re-emits per batch: keep the last (largest n) snapshot
    got = {}
    for r in spark.table("q_stream").collect():
        k = (r.grp, r.q)
        if k not in got or r.n > got[k][1]:
            got[k] = (r.value_ub, r.n)
    assert got == want
    assert len(want) == 9          # 3 groups x 3 quantiles


def test_out_of_domain_value_fails_both_paths(spark, tmp_path):
    """[LO, HI] is the documented domain: a value just outside it fails
    the pure bin helper, the batch twin and the stream alike, instead
    of landing in an edge bin (width_bucket's -1 / n_bins, or numpy's
    negative index)."""
    from pyspark.errors import StreamingQueryException

    for v in (LO - 1, HI + 1):
        with pytest.raises(ValueError):
            _bin_index(v, LO, HI, BINS)
        df = spark.createDataFrame([(0, 5), (0, v)], SCHEMA)
        with pytest.raises(Exception, match="outside the histogram domain"):
            bin_quantiles_batch(df, LO, HI, BINS).collect()
        d = str(tmp_path / f"in_{v}")
        df.coalesce(1).write.parquet(d)
        q = (bin_quantiles_stream(
                spark.readStream.schema(SCHEMA).parquet(d), LO, HI, BINS)
             .writeStream.format("memory").queryName(f"q_oob_{v + 1}")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / f"ck_{v}"))
             .trigger(availableNow=True).start())
        with pytest.raises(StreamingQueryException,
                           match="outside the histogram domain"):
            q.awaitTermination(120)
