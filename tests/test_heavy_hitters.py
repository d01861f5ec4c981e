"""Misra-Gries heavy hitters: sketch guarantees and the exact recount.
The streaming sketch and the funnel twin run through the harness
(``tests/stream_twins.py``)."""

from __future__ import annotations

from collections import Counter

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from otel_arrow_collector_spark.operators.sketches import (
    heavy_hitters, mg_update, misra_gries_partial)
from tests import stream_twins as st


def test_mg_update_guarantees():
    """Core MG invariants on a skewed synthetic stream: bounded size,
    counters are lower bounds, error <= n/(c+1), every key with count
    > n/(c+1) survives."""
    stream = (["hot"] * 400 + ["warm"] * 120
              + [f"cold{i}" for i in range(480)])
    # deterministic interleave so evictions actually happen mid-stream
    stream = [stream[(i * 7) % len(stream)] for i in range(len(stream))]
    true = Counter(stream)
    c = 16
    counters = mg_update({}, stream, c)
    n = len(stream)
    assert len(counters) <= c
    for k, v in counters.items():
        assert v <= true[k]
        assert true[k] - v <= n // (c + 1)
    for k, cnt in true.items():
        if cnt > n // (c + 1):
            assert k in counters, k


def test_partial_summaries_cover_true_heavies(spark):
    """Distributed phase-1: every key above the n/(c+1) bar appears in
    some shard summary (keys hash to exactly one shard)."""
    rows = [(f"k{i % 10}",) for i in range(2000)] \
        + [("rare%d" % i,) for i in range(500)]
    df = spark.createDataFrame(
        rows, StructType([StructField("k", StringType())]))
    summ = misra_gries_partial(df, "k", capacity=16).collect()
    keys = {r.key for r in summ}
    assert {f"k{i}" for i in range(10)} <= keys
    # each key appears in exactly one shard
    seen = {}
    for r in summ:
        assert seen.setdefault(r.key, r.shard) == r.shard


@pytest.mark.slow
def test_heavy_hitters_exact_recount(spark):
    """Sketch + recount == plain groupBy + threshold, exactly."""
    rows = [(f"u{i % 7}",) for i in range(700)] \
        + [(f"tail{i}",) for i in range(300)]
    df = spark.createDataFrame(
        rows, StructType([StructField("u", StringType())]))
    got = {(r.key, r.cnt) for r in
           heavy_hitters(df, "u", phi_denom=12).collect()}
    n = df.count()
    want = {(r.u, r.cnt) for r in
            df.groupBy("u").agg(F.count(F.lit(1)).alias("cnt"))
              .filter(F.col("cnt") > n / 12).collect()}
    assert got == want and len(want) == 7
    with pytest.raises(ValueError, match="capacity"):
        heavy_hitters(df, "u", phi_denom=100, capacity=64)


def test_streaming_funnel_matches_batch_firsts(spark):
    """q71's streaming twin: per-user first time per stage equals the
    batch conditional aggregation for any arrival order (MIN commutes),
    and the funnel flags agree."""
    st.assert_twin(spark, "funnel", "split0", "split1", "check")
