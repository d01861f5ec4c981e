"""Streaming Bloom-novelty filter: one-sided error vs the exact
distinct-trigram count, fixed state size, idempotent re-delivery."""

from __future__ import annotations


import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from otel_arrow_collector_spark.operators.text import TRIGRAM_EXPR
from otel_arrow_collector_spark.sources.tables import load_table
from otel_arrow_collector_spark.streaming.bloom_novelty import (
    BLOOM_NOV_BITS, BLOOM_NOV_K, bloom_novelty_stream, bloom_positions)
from tests.conftest import SF_SMALL

SCHEMA = StructType([StructField("lang", StringType()),
                     StructField("tg", StringType())])


def _trigrams(spark):
    """(lang, tg) rows via the SHARED batch derivation TRIGRAM_EXPR."""
    return [(r.lang, r.tg) for r in
            load_table(spark, SF_SMALL, "documents")
            .select("lang",
                    F.expr("filter(split(text, ' '), x -> x <> '')")
                    .alias("a"))
            .select("lang", F.explode(F.expr(TRIGRAM_EXPR)).alias("tg"))
            .collect()]


def _exact(spark):
    return {r.lang: r.n for r in
            load_table(spark, SF_SMALL, "documents")
            .select("lang",
                    F.expr("filter(split(text, ' '), x -> x <> '')")
                    .alias("a"))
            .select("lang", F.explode(F.expr(TRIGRAM_EXPR)).alias("tg"))
            .groupBy("lang").agg(F.countDistinct("tg").alias("n"))
            .collect()}


def _run(spark, d, ckpt):
    latest: dict = {}

    def grab(batch_df, _bid):
        for r in batch_df.collect():
            latest[r.lang] = (r.n_novel_est, r.fill_bits)

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (bloom_novelty_stream(stream)
         .writeStream.foreachBatch(grab)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(240), "stream did not terminate in 240s"
    finally:
        q.stop()
    return latest


@pytest.mark.slow
def test_one_sided_error_and_bounded_state(spark, tmp_path):
    """Across 4 micro-batches: per lang, n_novel_est <= exact distinct
    trigrams (false positives only SUPPRESS novelty), the suppression
    stays under 2% at the 2^20-bit geometry, and the fill never
    approaches capacity."""
    rows = _trigrams(spark)
    d = str(tmp_path / "bloom_nov")
    per = (len(rows) + 3) // 4
    for b in range(4):
        spark.createDataFrame(rows[b * per:(b + 1) * per], SCHEMA) \
             .coalesce(1).write.mode("append").parquet(d)
    got = _run(spark, d, str(tmp_path / "ck1"))
    exact = _exact(spark)
    assert set(got) == set(exact)
    for lang, (est, fill) in got.items():
        assert est <= exact[lang]
        assert exact[lang] - est <= max(2, exact[lang] // 50)
        # state health: fill grows with distinct trigrams, bounded by
        # K bits per novel insert and far from capacity at this corpus
        assert fill <= BLOOM_NOV_K * est
        assert fill < BLOOM_NOV_BITS // 4


@pytest.mark.slow
def test_redelivery_is_idempotent(spark, tmp_path):
    """Delivering the whole corpus TWICE leaves the cumulative novelty
    count and the fill exactly where one delivery left them."""
    rows = _trigrams(spark)
    d = str(tmp_path / "bloom_nov_dup")
    for _ in range(2):
        spark.createDataFrame(rows, SCHEMA).coalesce(1) \
             .write.mode("append").parquet(d)
    once_d = str(tmp_path / "bloom_nov_once")
    spark.createDataFrame(rows, SCHEMA).coalesce(1) \
         .write.mode("append").parquet(once_d)
    twice = _run(spark, d, str(tmp_path / "ck2"))
    once = _run(spark, once_d, str(tmp_path / "ck3"))
    assert twice == once


def test_positions_match_digest_slices():
    """The K positions are hex slices [0:5) [5:10) [10:15) of ONE md5
    digest — the widened twin of the batch one-hash construction."""
    import hashlib
    tg = "alpha beta gamma"
    h = hashlib.md5(tg.encode()).hexdigest()
    assert bloom_positions(tg) == [int(h[0:5], 16), int(h[5:10], 16),
                                   int(h[10:15], 16)]
    assert all(0 <= p < BLOOM_NOV_BITS for p in bloom_positions(tg))
