"""Streaming incremental-dedup twin: the union of per-batch candidate
emissions equals the batch LSH candidate pair set, under batch splits,
shuffled arrival, duplication, and restart-from-checkpoint."""

from __future__ import annotations

import random
import tempfile

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from otel_arrow_collector_spark.operators import dedup
from otel_arrow_collector_spark.streaming.incr_dedup import incr_dedup_stream
from tests.conftest import SF_SMALL

SCHEMA = StructType([StructField("doc_id", LongType()),
                     StructField("text", StringType())])


def _docs(spark):
    return [(r.doc_id, r.text) for r in
            dedup.load_table(spark, SF_SMALL, "documents")
            .select("doc_id", "text").collect()]


def _batch_pairs(spark):
    return {(r.d1, r.d2) for r in
            dedup._lsh_candidate_pairs(spark, SF_SMALL).collect()}


def _run_foreach(spark, d, ckpt):
    """foreachBatch capture (memory sink cannot recover a checkpoint)."""
    got: set = set()

    def grab(batch_df, _bid):
        got.update((r.d1, r.d2) for r in batch_df.collect())

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(d))
    q = (incr_dedup_stream(stream)
         .writeStream.foreachBatch(grab)
         .outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return got


@pytest.mark.slow
def test_streaming_candidates_equal_batch_lsh(spark, tmp_path):
    """5 shuffled micro-batches with ~30% of docs re-delivered: emitted
    pairs (across batches) == the batch operator's candidate set —
    every pair is caught exactly when its later endpoint arrives, and
    re-delivery is a no-op (set-semantics state)."""
    rows = _docs(spark)
    rng = random.Random(11)
    rows = rows + rng.sample(rows, k=len(rows) // 3)   # duplicates
    rng.shuffle(rows)
    d = tempfile.mkdtemp(prefix="incr_dedup_stream_")
    per = (len(rows) + 4) // 5
    for b in range(5):
        batch = rows[b * per:(b + 1) * per]
        if batch:
            (spark.createDataFrame(batch, SCHEMA)
             .coalesce(1).write.mode("append").parquet(d))
    got = _run_foreach(spark, d, str(tmp_path / "ckpt"))
    assert got == _batch_pairs(spark)


@pytest.mark.slow
def test_restart_from_checkpoint_resumes_store(spark, tmp_path):
    """The band-keyed signature store survives a restart: first half of
    the corpus in run 1, second half in run 2 on the same checkpoint —
    cross-half pairs are emitted in run 2 only if the run-1 state is
    intact, and the union equals the batch candidate set."""
    rows = _docs(spark)
    random.Random(7).shuffle(rows)
    half = len(rows) // 2
    d = tempfile.mkdtemp(prefix="incr_dedup_restart_")
    ckpt = str(tmp_path / "ckpt")
    (spark.createDataFrame(rows[:half], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    got = _run_foreach(spark, d, ckpt)
    (spark.createDataFrame(rows[half:], SCHEMA)
     .coalesce(1).write.mode("append").parquet(d))
    got |= _run_foreach(spark, d, ckpt)
    assert got == _batch_pairs(spark)


@pytest.mark.slow
def test_incremental_equals_batch_restricted(spark):
    """Batch-side contract (round-11 flagship): store-based incremental
    verified pairs == full-batch LSH verified pairs restricted to
    shard-touching pairs (corpus is never re-shingled on the left)."""
    m, rem = dedup.INCR_SHARD_MOD, dedup.INCR_SHARD_REM
    incr = {(r.d1, r.d2, r.n_common, round(r.j, 9)) for r in
            dedup._incr_verified(spark, SF_SMALL).collect()}
    batch = {(r.d1, r.d2, r.n_common, round(r.j, 9)) for r in
             dedup._jaccard_verified(spark, SF_SMALL).collect()
             if r.d1 % m == rem or r.d2 % m == rem}
    assert incr == batch and incr


def test_signature_store_parquet_roundtrip(spark, tmp_path):
    """The store is self-contained: write to parquet, reload cold, run
    the incremental join off the loaded store — identical results (the
    production cold-start path; the corpus text is only touched for
    candidate verification)."""
    from pyspark.sql import functions as F

    d = dedup.load_table(spark, SF_SMALL, "documents")
    shard_pred = F.expr(dedup._SPARK_SHARD)
    path = str(tmp_path / "sigstore")
    dedup.build_signature_store(d.filter(~shard_pred)).write.parquet(path)
    got = {(r.d1, r.d2, r.n_common) for r in
           dedup.incremental_pairs(spark, d, spark.read.parquet(path),
                                   d.filter(shard_pred)).collect()}
    ref = {(r.d1, r.d2, r.n_common) for r in
           dedup._incr_verified(spark, SF_SMALL).collect()}
    assert got == ref and got


def test_delta_is_kept_shard_bands(spark):
    """The store append = bands of exactly the surviving shard docs:
    shard minus (docs verified >= threshold against the corpus or a
    lower-id shard doc), N_BANDS rows each."""
    from collections import Counter

    from pyspark.sql import functions as F

    m, rem = dedup.INCR_SHARD_MOD, dedup.INCR_SHARD_REM
    rows = dedup.dedup_incremental_delta(spark, SF_SMALL).collect()
    counts = Counter(r.doc_id for r in rows)
    assert set(counts.values()) == {dedup.N_BANDS}
    verified = [r for r in dedup._incr_verified(spark, SF_SMALL).collect()
                if r.j >= dedup.JACCARD_THRESHOLD]
    dropped = {r.d1 if (r.d1 % m == rem and r.d2 % m != rem) else r.d2
               for r in verified}
    shard_ids = {r.doc_id for r in
                 dedup.load_table(spark, SF_SMALL, "documents")
                 .filter(F.expr(dedup._SPARK_SHARD))
                 .select("doc_id").collect()}
    assert dropped and dropped <= shard_ids
    assert set(counts) == shard_ids - dropped


def test_ingest_funnel_reconciles(spark):
    """curation_ingest_funnel: every arrived doc lands in exactly one
    bucket (quality-fail / dup / kept), and the totals match the shard
    slice."""
    from pyspark.sql import functions as F

    rows = dedup.curation_ingest_funnel(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r.n_arrived == r.n_quality_fail + r.n_dup + r.n_kept
    n_shard = (dedup.load_table(spark, SF_SMALL, "documents")
               .filter(F.expr(dedup._SPARK_SHARD)).count())
    assert sum(r.n_arrived for r in rows) == n_shard


@pytest.mark.slow
def test_streaming_ingest_composition_end_to_end(spark, tmp_path):
    """The full streaming ingest shape the twin's docstring promises:
    candidates emitted by the band-keyed state op, verified by the
    shared exact-Jaccard stage (verify_candidate_pairs) — the union
    over batches equals the batch operator's full verified relation."""
    import tempfile

    rows = _docs(spark)
    random.Random(3).shuffle(rows)
    d = tempfile.mkdtemp(prefix="incr_ingest_e2e_")
    per = (len(rows) + 2) // 3
    for b in range(3):
        batch = rows[b * per:(b + 1) * per]
        if batch:
            (spark.createDataFrame(batch, SCHEMA)
             .coalesce(1).write.mode("append").parquet(d))
    cand = _run_foreach(spark, d, str(tmp_path / "ckpt"))
    cand_df = spark.createDataFrame(sorted(cand), ["d1", "d2"])
    docs = dedup.load_table(spark, SF_SMALL, "documents")
    got = {(r.d1, r.d2, r.n_common, round(r.j, 9)) for r in
           dedup.verify_candidate_pairs(spark, docs, cand_df).collect()}
    want = {(r.d1, r.d2, r.n_common, round(r.j, 9)) for r in
            dedup._jaccard_verified(spark, SF_SMALL).collect()}
    assert got == want and got


def test_band_state_cap_refuses_degenerate_stream(spark, tmp_path):
    """A degenerate all-identical-docs stream (every doc hashes to the
    same 4 band buckets) must FAIL LOUDLY at the per-band state cap —
    memlimit semantics — instead of growing one bucket's state and
    pair emission quadratically (verdict r11 ask #6)."""
    import tempfile

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from otel_arrow_collector_spark.streaming.incr_dedup import \
        incr_dedup_stream

    text = "the same twelve words repeated in every single degenerate document here"
    rows = [(i, text) for i in range(40)]
    d = tempfile.mkdtemp(prefix="incr_dedup_degen_")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(d)
    stream = spark.readStream.schema(SCHEMA).parquet(d)
    q = (incr_dedup_stream(stream, max_band_docs=25)
         .writeStream.format("noop")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException, match="BandStateOverflow|LSH bucket"):
        q.awaitTermination(180)


def test_band_state_cap_allows_bounded_buckets(spark, tmp_path):
    """The same stream UNDER the cap still completes and emits the full
    quadratic pair set (the cap is a guard, not a behavior change)."""
    import tempfile

    from otel_arrow_collector_spark.streaming.incr_dedup import \
        incr_dedup_stream

    text = "the same twelve words repeated in every single degenerate document here"
    rows = [(i, text) for i in range(10)]
    d = tempfile.mkdtemp(prefix="incr_dedup_small_")
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(d)
    got: set = set()

    def grab(batch_df, _bid):
        got.update((r.d1, r.d2) for r in batch_df.collect())

    stream = spark.readStream.schema(SCHEMA).parquet(d)
    q = (incr_dedup_stream(stream, max_band_docs=25)
         .writeStream.foreachBatch(grab)
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert got == {(i, j) for i in range(10) for j in range(i + 1, 10)}
