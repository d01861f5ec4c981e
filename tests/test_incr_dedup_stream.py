"""Incremental dedup: the store-based batch operator, the signature
store, the ingest funnel, and the streaming twin's band-state cap.  The
twin's candidate emission (splits, shuffled arrival, re-delivery,
restart) runs through the harness (``tests/stream_twins.py``)."""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException

from otel_arrow_collector_spark.operators import dedup
from otel_arrow_collector_spark.streaming.incr_dedup import incr_dedup_stream
from tests import stream_twins as st
from tests.conftest import SF_SMALL


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
def test_streaming_ingest_composition_end_to_end(spark):
    """The full streaming ingest shape the twin's docstring promises:
    candidates emitted by the band-keyed state op, verified by the
    shared exact-Jaccard stage (verify_candidate_pairs) — the union
    over batches equals the batch operator's full verified relation."""
    cand = st.split(spark, st.TWINS["incr_dedup"], 1).final
    cand_df = spark.createDataFrame(sorted(cand), ["d1", "d2"])
    docs = dedup.load_table(spark, SF_SMALL, "documents")
    got = {(r.d1, r.d2, r.n_common, round(r.j, 9)) for r in
           dedup.verify_candidate_pairs(spark, docs, cand_df).collect()}
    want = {(r.d1, r.d2, r.n_common, round(r.j, 9)) for r in
            dedup._jaccard_verified(spark, SF_SMALL).collect()}
    assert got == want and got


_SAME = "the same twelve words repeated in every single degenerate document here"


def test_band_state_cap_refuses_degenerate_stream(spark):
    """A degenerate all-identical-docs stream (every doc hashes to the
    same 4 band buckets) must FAIL LOUDLY at the per-band state cap —
    memlimit semantics — instead of growing one bucket's state and
    pair emission quadratically."""
    with pytest.raises(StreamingQueryException,
                       match="BandStateOverflow|LSH bucket"):
        st.drain(spark, _capped(), [[(i, _SAME) for i in range(40)]])


def test_band_state_cap_allows_bounded_buckets(spark):
    """The same stream UNDER the cap still completes and emits the full
    quadratic pair set (the cap is a guard, not a behavior change)."""
    got = st.drain(spark, _capped(), [[(i, _SAME) for i in range(10)]])
    assert set(got.final) == {(i, j) for i in range(10)
                              for j in range(i + 1, 10)}


def _capped():
    return replace(st.TWINS["incr_dedup"], build=lambda s: incr_dedup_stream(
        s, max_band_docs=25))
