"""Two-epoch incremental dedup composition — the delta docstring's
invariant, gated: applying shard-A's keep-first delta and then running
shard-B incrementally against store+delta must equal a from-scratch
full-batch LSH over the surviving corpus, and the appended store must be
bit-identical to a rebuild over the kept documents."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from otel_arrow_collector_spark.operators import dedup
from otel_arrow_collector_spark.operators.dedup import (
    JACCARD_THRESHOLD, _SPARK_CORPUS0, _SPARK_SHARD, _SPARK_SHARD_B,
    _SPARK_SHARD_B_PRED, _SPARK_SHARD_PRED, apply_store_delta,
    build_signature_store, incr2_delta_a, keepfirst_dropped, load_table,
    verify_candidate_pairs)
from tests.conftest import SF_SMALL


def _docs(spark):
    return load_table(spark, SF_SMALL, "documents")


def _kept_a_docs(spark):
    """Shard-A docs surviving epoch A (keep-first vs store0 + lower-id A)."""
    dropped = keepfirst_dropped(
        dedup._incr2_verified_a(spark, SF_SMALL)
        .filter(F.col("j") >= JACCARD_THRESHOLD), _SPARK_SHARD_PRED)
    return (_docs(spark).filter(F.expr(_SPARK_SHARD))
            .join(dropped, "doc_id", "left_anti"))


def _fullbatch_pairs(spark, docs):
    """From-scratch batch LSH + exact-Jaccard verify over an arbitrary
    documents DataFrame (the non-incremental reference pipeline)."""
    bands = build_signature_store(docs).persist()
    bands.count()
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("d1"),
                    F.col("b.doc_id").alias("d2"))
            .distinct())
    res = verify_candidate_pairs(spark, docs, cand)
    bands.unpersist(False)
    return res


def _pairset(df):
    return {(r.d1, r.d2, r.n_common, round(r.j, 4)) for r in
            df.filter(F.col("j") >= JACCARD_THRESHOLD).collect()}


@pytest.mark.slow
def test_epoch2_equals_fullbatch_over_survivors(spark):
    """Epoch-B incremental pairs == full-batch LSH over
    (corpus ∪ kept-A ∪ B), restricted to B-touching pairs.  This is the
    composition claim: the appended store stands in for the re-shingled
    survivor corpus exactly."""
    corpus0 = _docs(spark).filter(F.expr(_SPARK_CORPUS0))
    alive = (corpus0.unionByName(_kept_a_docs(spark))
             .unionByName(_docs(spark).filter(F.expr(_SPARK_SHARD_B))))
    full = _fullbatch_pairs(spark, alive)
    is_b = _SPARK_SHARD_B_PRED
    full_b = full.filter(F.expr(f"({is_b('d1')}) OR ({is_b('d2')})"))
    incr = dedup._incr2_verified_b(spark, SF_SMALL)
    assert _pairset(incr) == _pairset(full_b)
    assert _pairset(incr), "vacuous: no epoch-B pairs at this SF"


def test_epoch2_excludes_dropped_a(spark):
    """No epoch-B pair may touch a doc dropped in epoch A — its bands
    never entered the store."""
    dropped = {r.doc_id for r in keepfirst_dropped(
        dedup._incr2_verified_a(spark, SF_SMALL)
        .filter(F.col("j") >= JACCARD_THRESHOLD),
        _SPARK_SHARD_PRED).collect()}
    assert dropped, "vacuous: epoch A dropped nothing at this SF"
    for d1, d2, *_ in _pairset(dedup._incr2_verified_b(spark, SF_SMALL)):
        assert d1 not in dropped and d2 not in dropped


def _bandset(df):
    return {(r.doc_id, r.band) for r in df.collect()}


def test_delta_then_rebuild_identity(spark):
    """store0 ∪ deltaA == from-scratch store over (corpus ∪ kept-A):
    the append IS a rebuild, row for row — and one epoch further,
    store1 ∪ deltaB == rebuild over epoch-B survivors too."""
    store1 = dedup._incr2_store1(spark, SF_SMALL)
    rebuilt1 = build_signature_store(
        _docs(spark).filter(F.expr(_SPARK_CORPUS0))
        .unionByName(_kept_a_docs(spark)))
    assert _bandset(store1) == _bandset(rebuilt1)

    dropped_b = keepfirst_dropped(
        dedup._incr2_verified_b(spark, SF_SMALL)
        .filter(F.col("j") >= JACCARD_THRESHOLD), _SPARK_SHARD_B_PRED)
    kept_b = (_docs(spark).filter(F.expr(_SPARK_SHARD_B))
              .join(dropped_b, "doc_id", "left_anti"))
    delta_b = build_signature_store(_docs(spark)
                                    .filter(F.expr(_SPARK_SHARD_B))) \
        .join(dropped_b, "doc_id", "left_anti")
    store2 = apply_store_delta(store1, delta_b)
    rebuilt2 = build_signature_store(
        _docs(spark).filter(F.expr(_SPARK_CORPUS0))
        .unionByName(_kept_a_docs(spark)).unionByName(kept_b))
    assert _bandset(store2) == _bandset(rebuilt2)


def test_delta_a_matches_kept_docs(spark):
    """incr2_delta_a emits exactly 4 band rows per kept shard-A doc and
    none for dropped docs."""
    delta = incr2_delta_a(spark, SF_SMALL)
    kept_ids = {r.doc_id for r in _kept_a_docs(spark)
                .select("doc_id").collect()}
    rows = _bandset(delta)
    assert {d for d, _ in rows} == kept_ids
    per_doc: dict = {}
    for d, _ in rows:
        per_doc[d] = per_doc.get(d, 0) + 1
    assert set(per_doc.values()) == {dedup.N_BANDS}
