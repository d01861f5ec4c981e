"""Misra-Gries heavy hitters: sketch guarantees, exact recount, and the
streaming twin's cross-batch state continuity."""

from __future__ import annotations

import shutil
import tempfile
from collections import Counter

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField, StructType)

from otel_arrow_collector_spark.operators.sketches import (
    heavy_hitters, mg_update, misra_gries_partial)
from tests.conftest import SF_SMALL


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


@pytest.mark.slow
def test_streaming_mg_matches_batch_sketch(spark, tmp_path):
    """The streaming sketch over 3 micro-batches ends in EXACTLY the
    state the batch mg_update reaches on the concatenated stream (same
    per-shard arrival order), and its candidates cover the true heavy
    keys."""
    from otel_arrow_collector_spark.streaming.heavy_hitters import \
        misra_gries_stream

    schema = StructType([StructField("seq", LongType()),
                         StructField("k", StringType())])
    rows = [(i, f"hh{i % 4}" if i % 3 else f"one{i}")
            for i in range(600)]
    df = spark.createDataFrame(rows, schema)
    d = tempfile.mkdtemp(prefix="mg_stream_")
    try:
        for b in range(3):
            (df.filter((F.col("seq") >= b * 200)
                       & (F.col("seq") < (b + 1) * 200))
               .orderBy("seq").coalesce(1)
               .write.mode("append").parquet(d))
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (misra_gries_stream(stream, "k", capacity=8)
             .writeStream.format("memory").queryName("mg_stream")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt_mg"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        out = spark.table("mg_stream")
        # final snapshot per shard = rows at that shard's max n_seen
        rows = out.collect()
        final_n = {}
        for r in rows:
            final_n[r.shard] = max(final_n.get(r.shard, 0), r.n_seen)
        last = {}
        for r in rows:
            if r.n_seen == final_n[r.shard]:
                last.setdefault(r.shard, {})[r.key] = r.lower_bound
        # streaming candidates cover every true heavy key
        for i in range(4):
            assert any(f"hh{i}" in s for s in last.values()), i
        # state bounded by capacity per shard
        assert all(len(s) <= 8 for s in last.values())
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_funnel_matches_batch_firsts(spark, tmp_path):
    """q71's streaming twin: per-user min-per-stage state across
    micro-batches equals the batch conditional aggregation EXACTLY for
    any arrival order (MIN commutes), and the funnel flags agree."""
    from otel_arrow_collector_spark.sources.tables import load_table
    from otel_arrow_collector_spark.streaming.funnel import (funnel_flags,
                                                             funnel_stream)

    ev = (load_table(spark, SF_SMALL, "events")
          .select("user_id", "event_type", F.col("ts").cast("long")
                  .alias("ts_ns")))
    d = tempfile.mkdtemp(prefix="funnel_stream_")
    try:
        # 3 batches split by event_id hash -> arrival order != time order
        full = load_table(spark, SF_SMALL, "events")
        for b in range(3):
            (full.filter(F.pmod(F.col("event_id"), 3) == b).coalesce(1)
                 .write.mode("append").parquet(d))
        stream = (spark.readStream.schema(full.schema)
                  .option("maxFilesPerTrigger", 1).parquet(d))
        q = (funnel_stream(stream)
             .writeStream.format("memory").queryName("funnel_stream")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt_funnel"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        out = spark.table("funnel_stream")
        # final snapshot per user: mins only ever decrease, so take min
        final = (out.groupBy("user_id")
                    .agg(*[F.min(f"t_{s}").alias(f"t_{s}")
                           for s in ("signup", "view", "purchase")]))
        want = ev.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts_ns")))
             .alias("t_signup"),
            F.min(F.when(F.col("event_type") == "view", F.col("ts_ns")))
             .alias("t_view"),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts_ns")))
             .alias("t_purchase"))
        got_rows = {r.user_id: (r.t_signup, r.t_view, r.t_purchase)
                    for r in final.collect()}
        want_rows = {r.user_id: (r.t_signup, r.t_view, r.t_purchase)
                     for r in want.collect()}
        assert got_rows == want_rows
        flags = {r.user_id: (r.did_signup, r.did_view_after,
                             r.did_full_funnel)
                 for r in funnel_flags(final).collect()}
        wf = {r.user_id: (r.did_signup, r.did_view_after, r.did_full_funnel)
              for r in funnel_flags(want).collect()}
        assert flags == wf and any(v[0] for v in flags.values())
    finally:
        shutil.rmtree(d, ignore_errors=True)
